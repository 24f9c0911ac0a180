package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.snapshot.SnapshotStore

/** The sync-lifecycle fuzz scenario engine (see [[SyncFuzzSpec]] for the
  * op taxonomy and oracle design). Extracted from the spec so the SAME
  * deck/oracle logic runs in two harnesses:
  *  - in-process on local[n] (SyncFuzzSpec — fast, many seeds);
  *  - inside a local-cluster probe JVM with a mid-publish executor
  *    SIGKILL armed on one churn cycle (LocalClusterProbe
  *    sync-fuzz-kill) — the kill lands during the labeled publish
  *    write job, and the scenario accepts EITHER documented arm of the
  *    loss story for that cycle: recovered-via-stage-retry (normal
  *    asserts) or failed-soft (watermark + pointer held, then the
  *    retry must land the delta exactly once). Every other op keeps
  *    its strict contract, and the final three-way convergence
  *    (window oracle == snapshot == source bookkeeping) must hold
  *    regardless of which arm the kill took.
  *
  * `killer`: (churnOrdinal, arm) — `arm()` is invoked immediately
  * before the chosen churn cycle's `runCycle`, letting the probe start
  * a watcher that SIGKILLs an executor once the publish write job has
  * demonstrably started tasks.
  */
object SyncFuzzScenario {

  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val row = df.select(
      count(lit(1)).as("n"),
      sum(xxhash64(df.columns.sorted.map(col).toSeq: _*)
        .cast("decimal(38,0)")).as("h")).collect()(0)
    (row.getLong(0), row.getDecimal(1))
  }

  /** The seed's dealt deck — the shuffle is the seed rng's FIRST
    * consumption inside [[run]]. Extra ops are mixed into the shuffle;
    * with `extra = Nil` this deals the EXACT historical deck for a
    * given seed (same multiset, same rng consumption), so every pinned
    * seed keeps its shape; extra ops (e.g. "midshift") are only ever
    * dealt to NEW seeds that ask for them.
    */
  def deckFor(rng: scala.util.Random, extra: Seq[String]): Seq[String] =
    rng.shuffle(Seq.fill(8)("churn") ++ Seq.fill(2)("nochange") ++
      Seq.fill(2)("tie") ++ Seq.fill(2)("add") ++ Seq.fill(2)("drop") ++
      Seq("retype") ++ Seq.fill(2)("torn") ++ Seq("absent") ++
      Seq.fill(2)("failpub") ++ Seq("stalepub") ++ Seq("crashpub") ++
      Seq.fill(2)("deploy") ++ extra)

  /** Runs the seeded scenario; returns the dealt deck so callers can
    * pin op coverage (every kind is force-included, but the PIN makes
    * that measured, not assumed — r12 verdict item 5). */
  def run(spark: SparkSession, sfDir: String, seed: Int,
          log: String => Unit,
          killer: Option[(Int, () => Unit)] = None,
          extraOps: Seq[String] = Nil): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val srcDir = Files.createTempDirectory(s"graft-sfz$seed-src").toString
    val snapDir = Files.createTempDirectory(s"graft-sfz$seed-snap").toString
    val archDir = Files.createTempDirectory(s"graft-sfz$seed-arch").toString
    val store = new SnapshotStore(spark, snapDir)
    // the deployment's fencing token (fresh store → 1); every manager
    // below publishes under it, so the stalepub op's lower-epoch
    // publisher is fenced off exactly as a not-yet-retired old
    // deployment would be. `var`: the deploy op hands the role over to
    // a replacement that claims a strictly higher epoch mid-deck.
    var epoch = SyncManager.claimEpoch(store)
    def mergeMgr() = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("orders")), store, mode = SyncMode.Merge,
      publisherEpoch = epoch)
    def fullMgr() = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("orders")), store,
      mode = SyncMode.FullRebuild, publisherEpoch = epoch)

    def source() = spark.read.parquet(s"$srcDir/orders.parquet")
    def replaceSource(next: DataFrame): Unit = {
      val tmp = s"$srcDir/__next"
      next.write.mode(SaveMode.Overwrite).parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val dest = new org.apache.hadoop.fs.Path(s"$srcDir/orders.parquet")
      fs.delete(dest, true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), dest)
    }

    // ── state ────────────────────────────────────────────────────────
    var cycleIdx = 0
    var nVersions = 0
    var extraCols = Vector.empty[String]
    var droppedCols = Vector.empty[String]
    var pendingTies = Vector.empty[Long] // stamped AT wm, never consumed
    var extraSeq = 0
    var churnCount = 0
    def ts(k: Int) = f"2030-01-${1 + k / 24}%02d ${k % 24}%02d:00:00"
    def storedWm: String = StoredWatermarks(store).getOrElse("orders", "<none>")

    def archive(delta: DataFrame): Unit = {
      delta.write.parquet(s"$archDir/v$nVersions")
      nVersions += 1
      val ids = spark.read.parquet(s"$archDir/v${nVersions - 1}")
        .select("id").collect().map(_.getLong(0)).toSet
      pendingTies = pendingTies.filterNot(ids) // a bump consumes a tie
    }
    /** A bootstrap full read publishes EVERYTHING in the source —
      * including tie rows the delta scan never consumed; flush them
      * into the oracle history at their tie timestamps. */
    def flushTies(): Unit = if (pendingTies.nonEmpty) {
      val tieDf = source().filter(col("id").isin(pendingTies: _*))
      tieDf.write.parquet(s"$archDir/v$nVersions")
      nVersions += 1
      pendingTies = Vector.empty
    }

    def genIntegrity(): Unit = {
      val m = store.readCurrentManifest().get
      val n = spark.read.parquet(
        store.tableDir(m.version, "orders").toString).count()
      require(n == m.tables("orders"),
        s"generation ${m.version} torn: parquet=$n manifest=${m.tables("orders")}")
    }

    /** updates (core-col churn, extras ride along) + inserts (fresh
      * ids; live extras null unless this delta introduces `newCol`). */
    def makeDelta(opIdx: Int, newCol: Option[String]): DataFrame = {
      cycleIdx += 1
      val tsK = ts(cycleIdx)
      val cur = source()
      val m = 101 + rng.nextInt(300)
      val r = rng.nextInt(m)
      var updates = cur
        .filter(col("id") % m === r)
        .withColumn("updated_at", to_timestamp(lit(tsK)))
        .withColumn("o_totalprice", col("o_totalprice") + cycleIdx * 10.0)
      newCol.foreach { c =>
        updates = updates.withColumn(c, concat(lit("v"), col("id")))
      }
      val base = 100000000L + opIdx * 10000L
      var inserts = spark.range(50 + rng.nextInt(100)).select(
        (lit(base) + col("id")).as("id"),
        to_timestamp(lit(tsK)).as("updated_at"),
        (col("id") % 1000).as("o_custkey"),
        lit("N").as("o_orderstatus"),
        ((lit(base) + col("id")) * 1.25).as("o_totalprice"))
      extraCols.foreach { c =>
        inserts = inserts.withColumn(c,
          if (newCol.contains(c)) concat(lit("i"), col("id"))
          else lit(null).cast("string"))
      }
      newCol.filterNot(extraCols.contains).foreach { c =>
        inserts = inserts.withColumn(c, concat(lit("i"), col("id")))
      }
      updates.unionByName(inserts, allowMissingColumns = true)
    }

    /** Archive + apply to source, run one MERGE cycle, assert the full
      * delta was consumed and the watermark landed on this cycle's ts.
      * A killer-armed cycle may instead fail soft (executor loss beyond
      * stage retry): then the watermark and pointer must have held and
      * the immediate retry must land the delta exactly once.
      * `wmLost`: the pointer, and with it the watermark, is torn or
      * absent, so the delta scan reads the whole source.
      */
    def churnCycle(opIdx: Int, newCol: Option[String] = None,
                   wmLost: Boolean = false): Unit = {
      churnCount += 1
      val delta = makeDelta(opIdx, newCol)
      archive(delta)
      val deltaDisk = spark.read.parquet(s"$archDir/v${nVersions - 1}")
      val nDelta = deltaDisk.count()
      replaceSource(source()
        .join(deltaDisk.select("id"), Seq("id"), "left_anti")
        .unionByName(deltaDisk, allowMissingColumns = true))
      val expected = if (wmLost) source().count() else nDelta
      val wmBefore = storedWm
      // a torn/absent-op churn arrives with a garbage or missing
      // pointer BY DESIGN (runCycle heals it) — the pre-cycle snapshot
      // of the pointer must tolerate that, like the publisher does
      def pointerVersion: Option[String] =
        try store.readCurrentManifest().map(_.version)
        catch { case _: graft.model.MalformedManifest => None }
      val genBefore = pointerVersion
      val armed = killer.exists { case (at, arm) =>
        if (churnCount == at) { arm(); true } else false
      }
      val r = mergeMgr().runCycle()
      if (armed && !r.success) {
        // the executor loss broke the cycle: T7 fail-soft contract
        log(s"armed churn cycle failed soft (${r.error.getOrElse("")}); " +
          "asserting holds + retry")
        require(storedWm == wmBefore,
          "watermark advanced past a killed FAILED publish")
        require(pointerVersion == genBefore,
          "a killed failed cycle moved the pointer")
        val r2 = mergeMgr().runCycle()
        require(r2.success, s"retry after the kill failed: ${r2.error}")
        require(r2.changedCounts("orders") == expected,
          s"retry consumed ${r2.changedCounts("orders")} of $expected")
      } else {
        require(r.success, s"churn cycle failed: ${r.error}")
        require(r.changedCounts("orders") == expected,
          s"changed=${r.changedCounts("orders")} expected=$expected")
      }
      require(storedWm == ts(cycleIdx),
        s"watermark ${storedWm} != ${ts(cycleIdx)}")
      genIntegrity()
    }

    // ── seed data: orders under the id/updated_at convention ─────────
    val initial = graft.core.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("id"),
        col("o_orderdate").cast("timestamp").as("updated_at"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    initial.write.parquet(s"$srcDir/orders.parquet")
    initial.write.parquet(s"$archDir/v$nVersions")
    nVersions += 1
    val n0 = source().count()
    val r0 = mergeMgr().runCycle()
    require(r0.success && r0.manifest.get.tables("orders") == n0,
      s"bootstrap failed: ${r0.error}")

    // ── the deck: every op kind present, seeded-random order ─────────
    val deck = deckFor(rng, extraOps)
    log(s"seed $seed deck: ${deck.mkString(" ")}")

    deck.zipWithIndex.foreach { case (op, opIdx) =>
      op match {
        case "churn" => churnCycle(opIdx)

        case "nochange" =>
          val wmBefore = storedWm
          val r = mergeMgr().runCycle()
          require(r.success && r.changedCounts("orders") == 0L,
            s"no-change cycle saw changes: $r")
          require(storedWm == wmBefore, "watermark moved on an empty delta")
          genIntegrity()

        case "tie" =>
          val wm = storedWm
          val tieId = 200000000L + opIdx
          var tie = spark.range(1).select(
            lit(tieId).as("id"),
            to_timestamp(lit(wm)).as("updated_at"),
            lit(7L).as("o_custkey"), lit("T").as("o_orderstatus"),
            lit(42.5).as("o_totalprice"))
          extraCols.foreach(c =>
            tie = tie.withColumn(c, lit(null).cast("string")))
          replaceSource(source().unionByName(tie))
          val r = mergeMgr().runCycle()
          require(r.success, s"tie cycle failed: ${r.error}")
          require(r.changedCounts("orders") == 0L,
            "strict-> scan consumed a row stamped AT the watermark")
          val snap = spark.read.parquet(store.tableDir(
            r.manifest.get.version, "orders").toString)
          require(snap.filter(col("id") === tieId).count() == 0,
            "tie row leaked into a MERGE snapshot")
          require(storedWm == wm, "tie moved the watermark")
          pendingTies :+= tieId
          genIntegrity()

        case "add" =>
          extraSeq += 1
          val c = s"c$extraSeq"
          // old source rows gain the column as NULL (the delta is the
          // only carrier of real values this cycle)
          replaceSource(source().withColumn(c, lit(null).cast("string")))
          churnCycle(opIdx, newCol = Some(c))
          extraCols :+= c
          val snap = spark.read.parquet(store.tableDir(
            store.readCurrentManifest().get.version, "orders").toString)
          require(snap.columns.contains(c),
            "added column did not appear in the next snapshot")

        case "drop" if extraCols.nonEmpty =>
          val c = extraCols(rng.nextInt(extraCols.size))
          val wmBefore = storedWm
          val genBefore = store.readCurrentManifest().get.version
          val delta = makeDelta(opIdx, None).drop(c)
          archive(delta) // consumed by the FullRebuild below
          val deltaDisk = spark.read.parquet(s"$archDir/v${nVersions - 1}")
          replaceSource(source()
            .join(deltaDisk.select("id"), Seq("id"), "left_anti")
            .unionByName(deltaDisk, allowMissingColumns = true)
            .drop(c))
          val rFail = mergeMgr().runCycle()
          require(!rFail.success, "dropped-column MERGE cycle must fail")
          require(rFail.error.exists(e => e.contains("SchemaDrift") &&
            e.contains(c) && e.contains("FullRebuild")),
            s"drift error lacks the diagnosis: ${rFail.error}")
          require(storedWm == wmBefore, "watermark moved on a drift failure")
          require(store.readCurrentManifest().get.version == genBefore,
            "a failed drift cycle published")
          flushTies() // the rebuild reads the full source
          val rFull = fullMgr().runCycle()
          require(rFull.success,
            s"FullRebuild recovery failed: ${rFull.error}")
          require(storedWm == ts(cycleIdx), "rebuild lost the watermark")
          val snap = spark.read.parquet(store.tableDir(
            rFull.manifest.get.version, "orders").toString)
          require(!snap.columns.contains(c), "dropped column survived")
          extraCols = extraCols.filterNot(_ == c)
          droppedCols :+= c
          genIntegrity()
        case "drop" => churnCycle(opIdx) // nothing to drop yet

        case "retype" if extraCols.nonEmpty =>
          val c = extraCols(rng.nextInt(extraCols.size))
          val wmBefore = storedWm
          val genBefore = store.readCurrentManifest().get.version
          // park the good source, publish a retyped one (bad deploy)
          val aside = s"$srcDir/__aside"
          source().write.parquet(aside)
          replaceSource(spark.read.parquet(aside)
            .withColumn(c, xxhash64(col(c)).cast("double")))
          val rFail = mergeMgr().runCycle()
          require(!rFail.success, "retyped-column MERGE cycle must fail")
          require(rFail.error.exists(e => e.contains("SchemaDrift") &&
            e.contains(c)),
            s"drift error lacks the diagnosis: ${rFail.error}")
          require(storedWm == wmBefore && store.readCurrentManifest()
            .get.version == genBefore, "retype failure was not clean")
          // roll the deploy back — exact bytes, no information loss
          replaceSource(spark.read.parquet(aside))
          org.apache.hadoop.fs.FileSystem.getLocal(
            spark.sparkContext.hadoopConfiguration)
            .delete(new org.apache.hadoop.fs.Path(aside), true)
          val rOk = mergeMgr().runCycle()
          require(rOk.success && rOk.changedCounts("orders") == 0L,
            s"post-revert cycle not clean: $rOk")
          genIntegrity()
        case "retype" => churnCycle(opIdx)

        case "torn" | "absent" =>
          if (op == "torn") {
            val garbage = Seq("{not json", "",
              """{"timestamp":"t","snapshot_key":"k"}""",
              graft.model.Manifest.toJson(store.readCurrentManifest().get)
                .take(30))(rng.nextInt(4))
            store.writeString(store.currentManifestPath, garbage)
          } else {
            require(store.fs.delete(store.currentManifestPath, false),
              "absent-op delete failed")
          }
          flushTies() // the bootstrap reads the full source
          // Merge degrades to bootstrap, and the watermark went with the
          // pointer: the delta scan reads every row; publish heals both
          churnCycle(opIdx, wmLost = true)
          require(store.readCurrentManifest().nonEmpty,
            "publish did not heal the pointer")

        case "failpub" =>
          val wmBefore = storedWm
          val genBefore = store.readCurrentManifest().get
          val delta = makeDelta(opIdx, None)
          archive(delta) // lands on the retry below
          val deltaDisk = spark.read.parquet(s"$archDir/v${nVersions - 1}")
          val nDelta = deltaDisk.count()
          replaceSource(source()
            .join(deltaDisk.select("id"), Seq("id"), "left_anti")
            .unionByName(deltaDisk, allowMissingColumns = true))
          // damage the previous generation so the MERGE read fails
          // AFTER change detection computed the would-be watermark
          val fs = org.apache.hadoop.fs.FileSystem.getLocal(
            spark.sparkContext.hadoopConfiguration)
          val genTable = store.tableDir(genBefore.version, "orders")
          val aside = new org.apache.hadoop.fs.Path(
            genTable.toString + ".aside")
          require(fs.rename(genTable, aside), "damage rename failed")
          val rFail = mergeMgr().runCycle()
          require(!rFail.success, "cycle succeeded against a damaged prev")
          require(storedWm == wmBefore,
            "watermark advanced past a FAILED publish — rows in " +
              "(old, new] would be skipped forever")
          require(store.readCurrentManifest().get.version ==
            genBefore.version, "a failed cycle moved the pointer")
          require(fs.rename(aside, genTable), "repair rename failed")
          val rRetry = mergeMgr().runCycle()
          require(rRetry.success, s"repaired retry failed: ${rRetry.error}")
          require(rRetry.changedCounts("orders") == nDelta,
            s"retry consumed ${rRetry.changedCounts("orders")} of $nDelta")
          require(storedWm == ts(cycleIdx), "retry lost the watermark")
          genIntegrity()

        case "stalepub" =>
          // deploy-overlap interleave (r11 verdict item 1): a stale
          // publisher (lower epoch — the not-yet-retired old deployment)
          // wakes mid-deck with a fresh delta pending. The fence must
          // fail its cycle soft — pointer and watermark held, delta NOT
          // consumed — and the live publisher then lands it exactly once.
          val wmBefore = storedWm
          val genBefore = store.readCurrentManifest().get.version
          val delta = makeDelta(opIdx, None)
          archive(delta) // lands on the live cycle below
          val deltaDisk = spark.read.parquet(s"$archDir/v${nVersions - 1}")
          val nDelta = deltaDisk.count()
          replaceSource(source()
            .join(deltaDisk.select("id"), Seq("id"), "left_anti")
            .unionByName(deltaDisk, allowMissingColumns = true))
          val staleMgr = new SyncManager(spark,
            new ParquetSource(srcDir, Seq("orders")), store,
            mode = SyncMode.Merge, publisherEpoch = epoch - 1)
          val gensBeforeStale = store.listGenerations().size
          val rStale = staleMgr.runCycle()
          require(!rStale.success, "a stale publisher's cycle succeeded")
          require(rStale.error.exists(e => e.contains("StalePublisher") &&
            e.contains("epoch")),
            s"stale failure lacks the diagnosis: ${rStale.error}")
          // the pre-write fence (round 14): a fenced wake-up must cost
          // ZERO bytes — before it, the stale cycle built and wrote a
          // full orphan generation just to throw it away at the swap
          // (at 100 TB, an entire wasted snapshot per wake-up; seed
          // 1408002's deck ended on one and broke the ≤24 bound)
          require(store.listGenerations().size == gensBeforeStale,
            "a fenced-off publish left an orphan generation")
          require(storedWm == wmBefore,
            "a fenced-off publish advanced the watermark")
          require(store.readCurrentManifest().get.version == genBefore,
            "a stale publisher regressed the pointer")
          val rLive = mergeMgr().runCycle()
          require(rLive.success, s"live cycle failed: ${rLive.error}")
          require(rLive.changedCounts("orders") == nDelta,
            s"live consumed ${rLive.changedCounts("orders")} of $nDelta")
          require(storedWm == ts(cycleIdx), "live cycle lost the watermark")
          genIntegrity()

        case "crashpub" =>
          // crash-orphan (r11 verdict item 2): a publisher dies BETWEEN
          // the table/gen-manifest writes and the pointer swap — through
          // the real publish path, crashing exactly at the swap write.
          // The orphan generation must never be served, the next real
          // cycle must proceed as if it did not exist, and retention
          // ages it out like any generation (final ≤24 pin covers that).
          val genBefore = store.readCurrentManifest().get.version
          val crashAt = java.time.Instant.now()
          val orphanKey = SnapshotStore.keyFor(crashAt)
          val crashStore = new SnapshotStore(spark, snapDir) {
            override def writeString(p: org.apache.hadoop.fs.Path,
                                     content: String): Unit = {
              if (p == currentManifestPath) throw new java.io.IOException(
                "simulated publisher death at the pointer swap")
              super.writeString(p, content)
            }
          }
          val died =
            try {
              new graft.snapshot.SnapshotWriter(crashStore, epoch)
                .publish(Map("orders" -> source()), crashAt,
                  sortCol = Some("updated_at"))
              false
            } catch { case _: java.io.IOException => true }
          require(died, "the crash injection did not fire")
          require(store.fs.exists(store.genDir(orphanKey)),
            "orphan generation missing — crash landed before the writes")
          require(store.readGenerationManifest(orphanKey).nonEmpty,
            "orphan gen manifest missing")
          require(store.readCurrentManifest().get.version == genBefore,
            "a crashed publish moved the pointer")
          churnCycle(opIdx) // life goes on against the pointer generation
          require(store.readCurrentManifest().get.version != orphanKey,
            "the orphan generation got served")

        case "midshift" =>
          // mid-cycle handover (round 16, r15 verdict task 7): the
          // successor claims a higher epoch AND publishes INSIDE the
          // retired instance's in-flight cycle — after the cycle-entry
          // fence passed (the old instance was genuinely current at
          // entry), before the pre-write fence. This is exactly the
          // window the entry fence documents it cannot see
          // (SnapshotWriter.assertCurrentPublisher scaladoc): the
          // pre-write fence must catch it with ZERO bytes written by
          // the old cycle, the watermark and pointer must be the
          // successor's, and the pending delta must land EXACTLY ONCE
          // (via the successor's cycle, which runs during the old
          // cycle's extract phase). Injection is a delegating Source
          // whose first delta scan triggers the handover — the main
          // code path runs unmodified.
          val prevEpoch = epoch
          val delta = makeDelta(opIdx, None)
          archive(delta)
          val deltaDisk = spark.read.parquet(s"$archDir/v${nVersions - 1}")
          val nDelta = deltaDisk.count()
          replaceSource(source()
            .join(deltaDisk.select("id"), Seq("id"), "left_anti")
            .unionByName(deltaDisk, allowMissingColumns = true))
          val plain = new ParquetSource(srcDir, Seq("orders"))
          val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
          var landed = Option.empty[Long]
          var newEpoch = 0L
          var gensAfterSuccessor = -1
          val ambush: Source = new Source {
            def tableNames: Seq[String] = plain.tableNames
            def read(s2: SparkSession, table: String): DataFrame =
              plain.read(s2, table)
            override def readChangedSince(s2: SparkSession, table: String,
                since: Option[String],
                watermarkCol: String): DataFrame = {
              if (fired.compareAndSet(false, true)) {
                newEpoch = SyncManager.claimEpoch(store)
                require(newEpoch > prevEpoch,
                  s"mid-cycle claim $newEpoch not above live $prevEpoch")
                val rNew = new SyncManager(s2, plain, store,
                  mode = SyncMode.Merge, publisherEpoch = newEpoch)
                  .runCycle()
                require(rNew.success,
                  s"successor's mid-cycle publish failed: ${rNew.error}")
                landed = Some(rNew.changedCounts("orders"))
                gensAfterSuccessor = store.listGenerations().size
              }
              plain.readChangedSince(s2, table, since, watermarkCol)
            }
          }
          val oldMgr = new SyncManager(spark, ambush, store,
            mode = SyncMode.Merge, publisherEpoch = prevEpoch)
          val rOld = oldMgr.runCycle()
          require(fired.get, "the mid-cycle ambush never fired — vacuous")
          require(!rOld.success && rOld.error.exists(
            _.contains("StalePublisher")),
            s"old cycle not fenced after a mid-cycle handover: $rOld")
          require(landed.contains(nDelta),
            s"successor consumed $landed of $nDelta delta rows")
          require(storedWm == ts(cycleIdx),
            s"watermark $storedWm != successor's ${ts(cycleIdx)} — the " +
              "fenced old cycle touched it")
          require(store.readCurrentManifest().get.publisherEpoch == newEpoch,
            "pointer does not carry the successor's epoch")
          require(store.listGenerations().size == gensAfterSuccessor,
            "the fenced old cycle wrote a generation (pre-write fence " +
              "must make it zero bytes)")
          epoch = newEpoch // the deck continues under the replacement
          genIntegrity()

        case "midshift_late" =>
          // the SYMMETRIC handover window (round 17, r16 verdict task
          // 7): where "midshift" ambushes the first delta SCAN (so the
          // old cycle dies on the PRE-WRITE fence, zero bytes), this op
          // lands the successor's claim+publish between the old cycle's
          // TABLE WRITES and its pointer-swap attempt — the window only
          // the AT-SWAP fence can see. Injection is a delegating store
          // whose first GENERATION-manifest write (i.e. after the old
          // cycle's table writes, immediately before its swap path)
          // triggers the handover; the main code path runs unmodified.
          // Expected: the old cycle has genuinely written an orphan
          // generation (that is this window's unavoidable cost — the
          // pre-write fence passed honestly), the at-swap fence refuses
          // the pointer swap with the "refusing to publish" arm, the
          // watermark and pointer are the successor's, the delta lands
          // exactly once, and the orphan is never served (retention
          // ages it out — the deck-final ≤24 pin covers that).
          val prevEpochL = epoch
          val deltaL = makeDelta(opIdx, None)
          archive(deltaL)
          val deltaDiskL = spark.read.parquet(s"$archDir/v${nVersions - 1}")
          val nDeltaL = deltaDiskL.count()
          replaceSource(source()
            .join(deltaDiskL.select("id"), Seq("id"), "left_anti")
            .unionByName(deltaDiskL, allowMissingColumns = true))
          val plainL = new ParquetSource(srcDir, Seq("orders"))
          val firedL = new java.util.concurrent.atomic.AtomicBoolean(false)
          var landedL = Option.empty[Long]
          var newEpochL = 0L
          var successorGen = ""
          val lateStore = new SnapshotStore(spark, snapDir) {
            override def writeString(p: org.apache.hadoop.fs.Path,
                                     content: String): Unit = {
              // the old cycle's FIRST generation-manifest write: table
              // writes are done, the swap attempt is next
              if (p.getName == "manifest.json" && p != currentManifestPath &&
                  firedL.compareAndSet(false, true)) {
                newEpochL = SyncManager.claimEpoch(store)
                require(newEpochL > prevEpochL,
                  s"late claim $newEpochL not above live $prevEpochL")
                val rNew = new SyncManager(this.spark, plainL, store,
                  mode = SyncMode.Merge, publisherEpoch = newEpochL)
                  .runCycle()
                require(rNew.success,
                  s"successor's at-swap-window publish failed: ${rNew.error}")
                landedL = Some(rNew.changedCounts("orders"))
                successorGen = rNew.manifest.get.version
              }
              super.writeString(p, content)
            }
          }
          val oldMgrL = new SyncManager(spark, plainL, lateStore,
            mode = SyncMode.Merge, publisherEpoch = prevEpochL)
          val rOldL = oldMgrL.runCycle()
          require(firedL.get, "the at-swap ambush never fired — vacuous")
          require(!rOldL.success && rOldL.error.exists(e =>
            e.contains("StalePublisher") && e.contains("refusing to publish")),
            s"old cycle not fenced AT THE SWAP after a late handover " +
              s"(the 'refusing to publish' arm pins which fence fired): $rOldL")
          require(landedL.contains(nDeltaL),
            s"successor consumed $landedL of $nDeltaL delta rows")
          require(storedWm == ts(cycleIdx),
            s"watermark $storedWm != successor's ${ts(cycleIdx)} — the " +
              "fenced old cycle touched it")
          val ptr = store.readCurrentManifest().get
          require(ptr.publisherEpoch == newEpochL,
            "pointer does not carry the successor's epoch")
          require(ptr.version == successorGen,
            s"pointer serves ${ptr.version}, not the successor's " +
              s"$successorGen — the old cycle's orphan got served")
          epoch = newEpochL // the deck continues under the replacement
          genIntegrity()

        case "midshift_postswap" =>
          // the POST-swap window (round 18, r17 verdict task 7): the
          // old cycle's publish SUCCEEDS — pointer swapped to its
          // generation — and the successor claims+publishes while the
          // old cycle is still inside its post-swap tail (retention
          // GC). No fence can fire on the old cycle (its swap
          // legitimately won); the hazard is the TAIL: a
          // stale instance's GC whose notion of "old generations" can
          // include the generation its successor just published and
          // pointed at. Expected: the old cycle completes successfully,
          // its stale prune deletes NOTHING (Retention's higher-epoch
          // refusal), the successor's generation survives and stays
          // served, the delta is consumed exactly once — by the old
          // cycle, whose swap carried it together with its watermark,
          // so the successor's delta scan finds nothing — and the
          // watermark lands at the delta's stamp. Injection is a delegating store whose pointer-swap
          // write COMPLETES and then triggers the handover — the main
          // code path runs unmodified.
          val prevEpochP = epoch
          val deltaP = makeDelta(opIdx, None)
          archive(deltaP)
          val deltaDiskP = spark.read.parquet(s"$archDir/v${nVersions - 1}")
          val nDeltaP = deltaDiskP.count()
          replaceSource(source()
            .join(deltaDiskP.select("id"), Seq("id"), "left_anti")
            .unionByName(deltaDiskP, allowMissingColumns = true))
          val plainP = new ParquetSource(srcDir, Seq("orders"))
          val firedP = new java.util.concurrent.atomic.AtomicBoolean(false)
          var landedP = Option.empty[Long]
          var newEpochP = 0L
          var successorGenP = ""
          var gensAfterSuccessorP = -1
          val postStore = new SnapshotStore(spark, snapDir) {
            override def writeString(p: org.apache.hadoop.fs.Path,
                                     content: String): Unit = {
              super.writeString(p, content)
              // the old cycle's pointer swap has LANDED; its retention
              // prune is next
              if (p == currentManifestPath &&
                  firedP.compareAndSet(false, true)) {
                newEpochP = SyncManager.claimEpoch(store)
                require(newEpochP > prevEpochP,
                  s"post-swap claim $newEpochP not above live $prevEpochP")
                val rNew = new SyncManager(this.spark, plainP, store,
                  mode = SyncMode.Merge, publisherEpoch = newEpochP)
                  .runCycle()
                require(rNew.success,
                  s"successor's post-swap publish failed: ${rNew.error}")
                landedP = Some(rNew.changedCounts("orders"))
                successorGenP = rNew.manifest.get.version
                gensAfterSuccessorP = store.listGenerations().size
              }
            }
          }
          val oldMgrP = new SyncManager(spark, plainP, postStore,
            mode = SyncMode.Merge, publisherEpoch = prevEpochP)
          val rOldP = oldMgrP.runCycle()
          require(firedP.get, "the post-swap ambush never fired — vacuous")
          require(rOldP.success,
            s"the old cycle must complete — its swap landed BEFORE the " +
              s"handover and the post-swap tail must fail nothing: $rOldP")
          require(rOldP.prunedGenerations.isEmpty,
            s"the STALE old cycle's GC deleted ${rOldP.prunedGenerations} " +
              "— Retention's higher-epoch refusal is broken")
          require(store.listGenerations().size == gensAfterSuccessorP,
            s"generation count moved ${gensAfterSuccessorP} -> " +
              s"${store.listGenerations().size} across the old cycle's " +
              "post-swap tail — the stale instance deleted something")
          require(rOldP.changedCounts("orders") == nDeltaP,
            s"old cycle consumed ${rOldP.changedCounts("orders")} of " +
              s"$nDeltaP delta rows")
          require(landedP.contains(0L),
            s"successor consumed $landedP delta rows — the old cycle's " +
              "swap already carried the delta and its watermark")
          require(store.fs.exists(store.genDir(successorGenP)),
            "the successor's freshly-published generation is GONE — " +
              "deleted by the fenced old cycle's GC")
          val ptrP = store.readCurrentManifest().get
          require(ptrP.publisherEpoch == newEpochP,
            "pointer does not carry the successor's epoch")
          require(ptrP.version == successorGenP,
            s"pointer serves ${ptrP.version}, not the successor's " +
              s"$successorGenP — the old cycle's post-swap tail moved it")
          require(storedWm == ts(cycleIdx),
            s"watermark $storedWm != ${ts(cycleIdx)} — the post-swap " +
              "handover corrupted the watermark")
          epoch = newEpochP // the deck continues under the replacement
          genIntegrity()

        case "deploy" =>
          // rolling deploy mid-deck (round 13): the replacement claims a
          // strictly higher epoch — through whatever the deck just did
          // to the pointer (a torn/absent/crashpub op may immediately
          // precede this, exactly the boot window where the r12 claim
          // inverted the fence) — publishes, and the retired instance's
          // next wake-up is fenced out. Every later manager publishes
          // under the new epoch; later stalepub ops draw the retired
          // epoch. Marker GC (retention collects claims below the
          // served epoch) runs live across the handover.
          val prev = epoch
          epoch = SyncManager.claimEpoch(store)
          require(epoch > prev,
            s"deploy claimed $epoch — not above the live epoch $prev;" +
              " the fence would invert")
          val r = mergeMgr().runCycle()
          require(r.success, s"replacement's first cycle failed: ${r.error}")
          require(store.readCurrentManifest().get.publisherEpoch == epoch,
            "handover did not take the pointer")
          // the retired instance ticks once more: fenced, clean
          val wmBefore = storedWm
          val genBefore = store.readCurrentManifest().get.version
          val retiredMgr = new SyncManager(spark,
            new ParquetSource(srcDir, Seq("orders")), store,
            mode = SyncMode.Merge, publisherEpoch = prev)
          val gensBeforeRetired = store.listGenerations().size
          val rOld = retiredMgr.runCycle()
          require(!rOld.success && rOld.error.exists(
            _.contains("StalePublisher")),
            s"retired instance was not fenced: $rOld")
          require(storedWm == wmBefore && store.readCurrentManifest()
            .get.version == genBefore, "a fenced wake-up was not clean")
          // zero bytes, not a discarded generation (pre-write fence)
          require(store.listGenerations().size == gensBeforeRetired,
            "the retired instance's fenced wake-up left an orphan")
          genIntegrity()
      }
    }

    // ── convergence: bump outstanding ties, then the window oracle ──
    if (pendingTies.nonEmpty) {
      cycleIdx += 1
      val tsK = ts(cycleIdx)
      val bump = source().filter(col("id").isin(pendingTies: _*))
        .withColumn("updated_at", to_timestamp(lit(tsK)))
      archive(bump)
      val bumpDisk = spark.read.parquet(s"$archDir/v${nVersions - 1}")
      replaceSource(source()
        .join(bumpDisk.select("id"), Seq("id"), "left_anti")
        .unionByName(bumpDisk, allowMissingColumns = true))
      val r = mergeMgr().runCycle()
      require(r.success, s"tie-bump cycle failed: ${r.error}")
      require(pendingTies.isEmpty, "bump did not consume the tie rows")
    }

    val history = (0 until nVersions)
      .map(v => spark.read.parquet(s"$archDir/v$v"))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val expected = history
      .withColumn("__rk", row_number().over(
        Window.partitionBy("id").orderBy(col("updated_at").desc)))
      .filter(col("__rk") === 1).drop("__rk")
      .drop(droppedCols: _*)
    val finalSnap = spark.read.parquet(store.tableDir(
      store.readCurrentManifest().get.version, "orders").toString)
    val src = source()
    val (en, eh) = digest(expected)
    val (gn, gh) = digest(finalSnap)
    val (sn, sh) = digest(src)
    require(en == gn && eh == gh,
      s"seed $seed: snapshot diverged from the version-history oracle: " +
        s"expected ($en, $eh) got ($gn, $gh)")
    require(sn == gn && sh == gh,
      s"seed $seed: snapshot diverged from the source bookkeeping: " +
        s"source ($sn, $sh) snapshot ($gn, $gh)")
    // the decks publish ~28 generations, so retention (keep-24) is live
    // in every scenario — pin that it bounded history without ever
    // pruning the generation the pointer serves (genIntegrity above
    // would have caught that)
    require(store.listGenerations().size <= 24,
      s"retention failed to bound history: " +
        s"${store.listGenerations().size} generations survive")
    log(s"seed $seed: ${deck.size} ops, $nVersions versions, " +
      s"$en rows converged")
    deck
  }
}
