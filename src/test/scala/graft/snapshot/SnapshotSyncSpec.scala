package graft.snapshot

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import graft.SparkSpec
import graft.ingest.{ParquetSource, StoredWatermarks, SyncManager, SyncMode}

/** End-to-end sync cycle over a temp source dir (SURVEY.md §3.2 / §5.2):
  * extract → snapshot publish → manifest swap → retention; watermark
  * persistence across manager restarts; the built-in inventory view.
  */
class SnapshotSyncSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val env: (String, String) = {
    val srcDir = Files.createTempDirectory("graft-src").toString
    val snapDir = Files.createTempDirectory("graft-snap").toString
    val inventory = Seq(
      (1L, "widget", 5L, 9.99, ts("2024-01-01 00:00:00")),
      (2L, "gadget", 3L, 19.50, ts("2024-01-02 00:00:00")),
      (3L, "doohickey", 7L, 4.25, ts("2024-01-03 00:00:00")))
      .toDF("id", "name", "quantity", "price", "updated_at")
    val products = Seq((1L, ts("2024-01-01 12:00:00")), (2L, ts("2024-01-02 12:00:00")))
      .toDF("id", "updated_at")
    inventory.write.mode("overwrite").parquet(s"$srcDir/inventory.parquet")
    products.write.mode("overwrite").parquet(s"$srcDir/products.parquet")
    (srcDir, snapDir)
  }

  private def newManager(keep: Int = 2) = {
    val (srcDir, snapDir) = env
    val store = new SnapshotStore(spark, snapDir)
    val source = new ParquetSource(srcDir, Seq("inventory", "products"))
    (new SyncManager(spark, source, store, keepCount = keep), store)
  }

  test("cycle publishes snapshot + manifest with row counts") {
    val (mgr, store) = newManager()
    val r = mgr.runCycle(Instant.parse("2024-02-01T00:00:00Z"))
    assert(r.success, r.error)
    val m = store.readCurrentManifest().get
    assert(m.tables == Map("inventory" -> 3L, "products" -> 2L))
    assert(m.version == "20240201_000000000")
    assert(store.fs.exists(store.tableDir(m.version, "inventory")))
  }

  test("watermarks persisted and change detection is strict >") {
    val (mgr, store) = newManager()
    mgr.runCycle(Instant.parse("2024-02-01T01:00:00Z"))
    val wm = StoredWatermarks(store)
    assert(wm("inventory").startsWith("2024-01-03 00:00:00"))
    assert(wm("products").startsWith("2024-01-02 12:00:00"))
    // second cycle: nothing changed since the watermark (strict >)
    val r2 = mgr.runCycle(Instant.parse("2024-02-01T02:00:00Z"))
    assert(r2.changedCounts == Map("inventory" -> 0L, "products" -> 0L))
  }

  test("retention keeps newest N generations") {
    val (mgr, store) = newManager(keep = 2)
    val t0 = Instant.parse("2024-03-01T00:00:00Z")
    (0 until 4).foreach(i => mgr.runCycle(t0.plusSeconds(i)))
    val gens = store.listGenerations()
    assert(gens.size == 2, gens)
    assert(gens.max == "20240301_000003000")
    // current manifest always resolvable after pruning
    assert(store.readCurrentManifest().exists(m =>
      store.fs.exists(store.genDir(m.version))))
  }

  test("reader registers views incl. v_inventory_summary") {
    val (mgr, store) = newManager()
    mgr.runCycle(Instant.parse("2024-04-01T00:00:00Z"))
    val reader = new SnapshotReader(store)
    assert(reader.refreshIfStale())
    val row = reader.session.sql(
      "SELECT total_items, total_quantity, avg_price FROM v_inventory_summary").first()
    assert(row.getLong(0) == 3L)
    assert(row.getLong(1) == 15L)
    assert(math.abs(row.getDouble(2) - (9.99 + 19.50 + 4.25) / 3) < 1e-9)
  }

  test("reader TTL: no re-resolve before expiry, swap visible after") {
    val (mgr, store) = newManager()
    mgr.runCycle(Instant.parse("2024-05-01T00:00:00Z"))
    var now = Instant.parse("2024-05-01T00:00:00Z")
    val reader = new SnapshotReader(store,
      ttl = java.time.Duration.ofSeconds(120), clock = () => now)
    assert(reader.refreshIfStale())
    val v1 = reader.currentManifest.get.version
    // publish a new generation; reader inside TTL must not see it
    mgr.runCycle(Instant.parse("2024-05-01T00:01:00Z"))
    now = now.plusSeconds(60)
    assert(!reader.refreshIfStale())
    assert(reader.currentManifest.get.version == v1)
    // past TTL: swap observed
    now = now.plusSeconds(120)
    assert(reader.refreshIfStale())
    assert(reader.currentManifest.get.version == "20240501_000100000")
  }

  test("reader serves the loaded generation through an absent/torn pointer") {
    // the s3a rename window: a crashed publisher leaves
    // current/manifest.json absent (copy+delete rename) or a foreign
    // writer leaves garbage — either must degrade to staleness, never
    // to an outage, because the generation's data + manifest complete
    // before the pointer moves (ordering pinned by the next test)
    val srcDir = Files.createTempDirectory("graft-ptr-src").toString
    val snapDir = Files.createTempDirectory("graft-ptr-snap").toString
    Seq((1L, 5L, 9.99, ts("2024-01-01 00:00:00")))
      .toDF("id", "quantity", "price", "updated_at")
      .write.parquet(s"$srcDir/inventory.parquet")
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store)
    mgr.runCycle(Instant.parse("2024-08-01T00:00:00Z"))
    var now = Instant.parse("2024-08-01T00:00:00Z")
    val reader = new SnapshotReader(store,
      ttl = java.time.Duration.ofSeconds(120), clock = () => now)
    assert(reader.refreshIfStale())
    val v1 = reader.currentManifest.get.version

    // pointer vanishes (crashed publisher mid-rename)
    assert(store.fs.delete(store.currentManifestPath, false))
    now = now.plusSeconds(300)
    assert(!reader.refreshIfStale(), "absent pointer must not flip views")
    assert(reader.currentManifest.get.version == v1)
    assert(reader.session.sql("SELECT count(*) FROM inventory").first().getLong(0) == 1,
      "serving must continue on the last-registered generation")

    // pointer returns as garbage (torn non-rename overwrite)
    store.writeString(store.currentManifestPath, "{not json")
    now = now.plusSeconds(300)
    assert(!reader.refreshIfStale(), "torn pointer must not flip views")
    assert(reader.currentManifest.get.version == v1)
    assert(reader.session.sql("SELECT count(*) FROM inventory").first().getLong(0) == 1)

    // recovery cycle: next publish restores the pointer and the reader
    // picks up the new generation on the next TTL lapse
    Seq((1L, 5L, 9.99, ts("2024-01-01 00:00:00")),
        (2L, 9L, 1.25, ts("2024-02-01 00:00:00")))
      .toDF("id", "quantity", "price", "updated_at")
      .write.mode("overwrite").parquet(s"$srcDir/inventory.parquet")
    val r2 = mgr.runCycle(Instant.parse("2024-08-01T01:00:00Z"))
    assert(r2.success, r2.error)
    now = now.plusSeconds(300)
    assert(reader.refreshIfStale(), "recovered pointer must be adopted")
    assert(reader.currentManifest.get.version == r2.manifest.get.version)
    assert(reader.session.sql("SELECT count(*) FROM inventory").first().getLong(0) == 2)

    // a FRESH reader with nothing loaded has no generation to fall back
    // to: a torn pointer on first load must surface, not serve nothing
    store.writeString(store.currentManifestPath, "{not json")
    val cold = new SnapshotReader(store,
      ttl = java.time.Duration.ofSeconds(120), clock = () => now)
    intercept[Exception](cold.refreshIfStale())
  }

  test("loaded reader degrades to stale on a NON-taxonomy refresh failure; cold propagates it") {
    // r11 ADVICE: object-store client shims (Hadoop s3a wrappers) can
    // surface transient faults as RuntimeExceptions outside the
    // MalformedManifest|IOException taxonomy. WHILE LOADED that must
    // degrade to serving the loaded generation as stale (logged), not
    // flip a working deployment into a per-query 500 storm; COLD it
    // must propagate — with nothing loaded there is no safe degraded
    // state, and masking a bug as "not published yet" would hide it.
    val srcDir = Files.createTempDirectory("graft-flaky-src").toString
    val snapDir = Files.createTempDirectory("graft-flaky-snap").toString
    Seq((1L, 5L, 9.99, ts("2024-01-01 00:00:00")))
      .toDF("id", "quantity", "price", "updated_at")
      .write.parquet(s"$srcDir/inventory.parquet")
    val plain = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), plain)
    assert(mgr.runCycle(Instant.parse("2024-08-02T00:00:00Z")).success)

    class FlakyStore extends SnapshotStore(spark, snapDir) {
      @volatile var boom = false
      override def readCurrentManifest(): Option[graft.model.Manifest] =
        if (boom) throw new RuntimeException("shim-wrapped store fault")
        else super.readCurrentManifest()
    }
    val store = new FlakyStore
    var now = Instant.parse("2024-08-02T01:00:00Z")
    val reader = new SnapshotReader(store,
      ttl = java.time.Duration.ofSeconds(120), clock = () => now)
    assert(reader.refreshIfStale())
    val v1 = reader.currentManifest.get.version

    store.boom = true
    now = now.plusSeconds(300) // TTL lapse with the store faulting
    assert(!reader.refreshIfStale(),
      "a faulting refresh while loaded must degrade, not flip views")
    assert(reader.currentManifest.get.version == v1,
      "degraded refresh lost the loaded generation")

    store.boom = false
    now = now.plusSeconds(300) // fault clears: refresh resumes normally
    assert(!reader.refreshIfStale() &&
      reader.currentManifest.get.version == v1)

    // cold: the same fault must PROPAGATE as itself, not classify as
    // the retryable 503 (SnapshotUnavailableException is a RuntimeException
    // subclass, so assert the exact class)
    store.boom = true
    val cold = new SnapshotReader(store, clock = () => now)
    val e = intercept[RuntimeException](cold.refreshIfStale())
    assert(e.getClass == classOf[RuntimeException] &&
      e.getMessage.contains("shim-wrapped"),
      s"cold non-taxonomy fault surfaced as ${e.getClass.getName}")
  }

  test("a damaged generation behind a valid pointer: adoption is all-or-nothing, loaded degrades, cold is throttled") {
    // foreign partial delete: the pointer parses but one of the new
    // generation's table dirs is gone (the writer always completes data
    // before the swap, so this is foreign interference). Adoption must
    // be ALL-OR-NOTHING — a mid-loop register used to leave the catalog
    // half-swapped (some views on the new generation, some on the old:
    // silent cross-generation joins) — and the failure follows the same
    // state-dependent policy as the pointer probe: loaded keeps serving
    // the loaded generation CONSISTENTLY; cold surfaces the fault with
    // the store probes throttled by the backoff.
    val srcDir = Files.createTempDirectory("graft-dmg-src").toString
    val snapDir = Files.createTempDirectory("graft-dmg-snap").toString
    def seed(n: Int): Unit = (1 to n).map(i =>
      (i.toLong, i.toLong, ts(s"2024-01-0$i 00:00:00")))
      .toDF("id", "quantity", "updated_at")
      .write.mode("overwrite").parquet(s"$srcDir/a_items.parquet")
    def seedB(n: Int): Unit = (1 to n).map(i =>
      (i.toLong, s"b$i", ts(s"2024-01-0$i 00:00:00")))
      .toDF("id", "name", "updated_at")
      .write.mode("overwrite").parquet(s"$srcDir/b_items.parquet")
    seed(1); seedB(1)
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("a_items", "b_items")), store)
    assert(mgr.runCycle(Instant.parse("2024-08-03T00:00:00Z")).success)

    var now = Instant.parse("2024-08-03T01:00:00Z")
    val reader = new SnapshotReader(store,
      ttl = java.time.Duration.ofSeconds(120), clock = () => now)
    assert(reader.refreshIfStale())
    val v1 = reader.currentManifest.get.version

    // a second generation lands, then a foreign actor deletes ONE of
    // its table dirs (which table the register loop would hit first is
    // a Map-ordering accident — all-or-nothing means it cannot matter)
    seed(2); seedB(2)
    val r2 = mgr.runCycle(Instant.parse("2024-08-03T02:00:00Z"))
    assert(r2.success, r2.error)
    val v2 = r2.manifest.get.version
    assert(store.fs.delete(store.tableDir(v2, "b_items"), true))

    now = now.plusSeconds(300)
    assert(!reader.refreshIfStale(),
      "adopting a damaged generation must degrade, not flip views")
    assert(reader.currentManifest.get.version == v1)
    // BOTH views still serve generation v1 — no half-swap
    assert(reader.session.sql("SELECT count(*) FROM a_items").first().getLong(0) == 1,
      "a_items view half-swapped onto the damaged generation")
    assert(reader.session.sql("SELECT count(*) FROM b_items").first().getLong(0) == 1)

    // cold boot against the damaged pointer target: the fault surfaces
    // (nothing to fall back to) but a request storm costs ONE pointer
    // probe per backoff window, not one per request
    val cold = new SnapshotReader(store, clock = () => now,
      coldRetryBackoff = java.time.Duration.ofSeconds(30))
    (1 to 10).foreach { i =>
      now = now.plusSeconds(1)
      val e = intercept[Exception](cold.refreshIfStale())
      assert(!e.isInstanceOf[SnapshotUnavailableException],
        s"storm call $i re-typed the fault: ${e.getClass.getName}")
    }
    assert(cold.pointerProbes.get() == 1,
      s"cold storm against a damaged generation probed " +
        s"${cold.pointerProbes.get()} times — backoff not armed")

    // heal: the publisher's next cycle writes an intact generation;
    // both readers adopt it on their next lapse/window
    seed(3); seedB(3)
    val r3 = mgr.runCycle(Instant.parse("2024-08-03T03:00:00Z"))
    assert(r3.success, r3.error)
    now = now.plusSeconds(300)
    assert(reader.refreshIfStale(), "healed generation not adopted")
    assert(reader.currentManifest.get.version == r3.manifest.get.version)
    assert(reader.session.sql("SELECT count(*) FROM b_items").first().getLong(0) == 3)
    assert(cold.refreshIfStale(), "cold reader did not recover post-heal")
    assert(cold.currentManifest.get.version == r3.manifest.get.version)
  }

  test("a traversal-shaped pointer classifies as torn — versions and table names validated before any path is built") {
    // defense in depth on shared storage: manifest version/table names
    // flow into Path construction (genDir/tableDir) and view names, so
    // a forged or corrupt pointer with "version": "../../x" would walk
    // the reader — or a MERGE publisher's prev-generation read —
    // outside the store root. The writer only ever produces
    // keyFor-shaped versions and plain identifiers, so anything else
    // classifies as MalformedManifest: the full torn-pointer taxonomy
    // (reader degrades/503s, publisher bootstraps and heals, retention
    // suspends) applies with no new code paths.
    val srcDir = Files.createTempDirectory("graft-trav-src").toString
    val snapDir = Files.createTempDirectory("graft-trav-snap").toString
    Seq((1L, 5L, 9.99, ts("2024-01-01 00:00:00")))
      .toDF("id", "quantity", "price", "updated_at")
      .write.parquet(s"$srcDir/inventory.parquet")
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store,
      mode = SyncMode.Merge)
    assert(mgr.runCycle(Instant.parse("2024-08-04T00:00:00Z")).success)
    var now = Instant.parse("2024-08-04T01:00:00Z")
    val reader = new SnapshotReader(store,
      ttl = java.time.Duration.ofSeconds(120), clock = () => now)
    assert(reader.refreshIfStale())
    val v1 = reader.currentManifest.get.version

    // a forged pointer: valid JSON, valid shape, traversal version
    val forged = graft.model.Manifest(
      version = "../../../outside", timestamp = "t",
      snapshotKey = "k", tables = Map("inventory" -> 1L),
      metadata = Map.empty, publisherEpoch = 99L)
    store.writeString(store.currentManifestPath,
      graft.model.Manifest.toJson(forged))
    intercept[graft.model.MalformedManifest](store.readCurrentManifest())
    // loaded reader: degrades to the loaded generation, never follows
    now = now.plusSeconds(300)
    assert(!reader.refreshIfStale() &&
      reader.currentManifest.get.version == v1)
    // retention: suspends entirely (torn-pointer rule) — and the
    // forged higher epoch is NOT adopted as a fence signal either
    assert(new Retention(store, keepCount = 0, publisherEpoch = 1L)
      .prune().isEmpty, "pruned under a traversal-shaped pointer")
    // publisher: next cycle treats it as torn, bootstraps, heals
    val r2 = mgr.runCycle(Instant.parse("2024-08-04T02:00:00Z"))
    assert(r2.success, r2.error)
    assert(store.readCurrentManifest().get.version == r2.manifest.get.version)

    // a traversal-shaped TABLE NAME is equally refused
    val badTable = graft.model.Manifest(
      version = r2.manifest.get.version, timestamp = "t",
      snapshotKey = "k", tables = Map("../escape" -> 1L),
      metadata = Map.empty, publisherEpoch = 1L)
    store.writeString(store.currentManifestPath,
      graft.model.Manifest.toJson(badTable))
    intercept[graft.model.MalformedManifest](store.readCurrentManifest())
    // heal again for good measure
    assert(mgr.runCycle(Instant.parse("2024-08-04T03:00:00Z")).success)

    // an OVERSIZED pointer (a foreign blob) classifies as torn from
    // file status alone — never slurped into driver memory — and the
    // same heal applies
    store.writeString(store.currentManifestPath,
      "x" * (17 * 1024 * 1024))
    val big = intercept[graft.model.MalformedManifest](
      store.readCurrentManifest())
    assert(big.getMessage.contains("cap"), big.getMessage)
    assert(mgr.runCycle(Instant.parse("2024-08-04T04:00:00Z")).success)
    assert(store.readCurrentManifest().nonEmpty)
  }

  test("publish ordering: pointer swap is last — a failed swap leaves a complete generation") {
    // pin the ordering the reader contract above depends on: if the
    // POINTER write fails, the generation's parquet data and per-gen
    // manifest are already complete (recoverable, never adopted torn)
    val srcDir = Files.createTempDirectory("graft-ord-src").toString
    val snapDir = Files.createTempDirectory("graft-ord-snap").toString
    Seq((1L, 5L, ts("2024-01-01 00:00:00")))
      .toDF("id", "quantity", "updated_at")
      .write.parquet(s"$srcDir/inventory.parquet")
    val store = new SnapshotStore(spark, snapDir)
    // make ONLY the pointer WRITE fail: plant a plain FILE at the
    // `current/` directory path — pointer reads see "absent" (exists()
    // on current/manifest.json is false under a file parent) so the
    // cycle proceeds, but writeString's mkdirs/create for the pointer
    // cannot materialize under a file and throws
    store.writeString(new org.apache.hadoop.fs.Path(
      store.rootPath, "current"), "blocker")
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store)
    val r = mgr.runCycle(Instant.parse("2024-09-01T00:00:00Z"))
    assert(!r.success, "publish should have failed at the pointer swap")
    val key = SnapshotStore.keyFor(Instant.parse("2024-09-01T00:00:00Z"))
    assert(store.readGenerationManifest(key).exists(_.tables("inventory") == 1L),
      "per-generation manifest must complete BEFORE the pointer swap")
    assert(spark.read.parquet(store.tableDir(key, "inventory").toString)
      .count() == 1, "table data must complete BEFORE the pointer swap")
    // watermark must hold too — the failed cycle is fully retryable
    assert(!StoredWatermarks(store).contains("inventory"))
  }

  test("merge mode upserts the delta into the previous generation") {
    val srcDir = Files.createTempDirectory("graft-mrgsrc").toString
    val snapDir = Files.createTempDirectory("graft-mrgsnap").toString
    def writeSource(rows: Seq[(Long, Long, Timestamp)]): Unit =
      rows.toDF("id", "quantity", "updated_at")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$srcDir/inventory.parquet")

    writeSource(Seq(
      (1L, 5L, ts("2024-01-01 00:00:00")),
      (2L, 3L, ts("2024-01-02 00:00:00"))))
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store,
      mode = SyncMode.Merge)

    // bootstrap generation: no previous snapshot → full extract
    val r1 = mgr.runCycle(Instant.parse("2024-07-01T00:00:00Z"))
    assert(r1.success && r1.manifest.get.tables("inventory") == 2L)

    // row 2 updated + row 3 inserted after the watermark
    writeSource(Seq(
      (1L, 5L, ts("2024-01-01 00:00:00")),
      (2L, 99L, ts("2024-01-06 00:00:00")),
      (3L, 7L, ts("2024-01-05 00:00:00"))))
    val r2 = mgr.runCycle(Instant.parse("2024-07-01T01:00:00Z"))
    assert(r2.success, r2.error)
    assert(r2.changedCounts("inventory") == 2L) // only the delta read
    assert(r2.manifest.get.tables("inventory") == 3L) // full merged table
    val merged = spark.read.parquet(
      store.tableDir(r2.manifest.get.version, "inventory").toString)
      .select("id", "quantity").as[(Long, Long)].collect().sortBy(_._1)
    assert(merged.toSeq == Seq((1L, 5L), (2L, 99L), (3L, 7L)),
      merged.mkString(";")) // update applied, insert applied, rest kept
  }

  test("merge upsert: AQE broadcasts a small delta against a big prev") {
    // the scale-critical plan shape: prev is the full snapshot (huge at
    // 100 TB), delta the change rate — the anti-join must NOT shuffle
    // prev on the key when the delta is broadcastable
    import org.apache.spark.sql.functions._
    val prev = spark.range(200000).select(col("id"),
      (col("id") % 97).as("quantity"))
    val delta = spark.range(50).select((col("id") * 1000).as("id"),
      lit(7L).as("quantity"))
    val merged = graft.ingest.SyncManager.mergeUpsert(prev, delta, "id")
    // every delta id (0, 1000, …, 49000) matches a prev row: pure upsert
    assert(merged.count() == 200000)
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"small-delta MERGE should broadcast the delta keys:\n$plan")
  }

  test("merge adopts an added source column — nulls for untouched rows") {
    // reference observable semantics: CTAS-per-cycle (sync.py:84-87)
    // makes a new source column appear in the next snapshot; MERGE
    // matches that, with NULL for rows the incremental scan never
    // re-read (the honest value — their source-side value is unknown)
    val srcDir = Files.createTempDirectory("graft-addcol-src").toString
    val snapDir = Files.createTempDirectory("graft-addcol-snap").toString
    Seq((1L, 5L, ts("2024-01-01 00:00:00")),
        (2L, 3L, ts("2024-01-02 00:00:00")))
      .toDF("id", "quantity", "updated_at")
      .write.parquet(s"$srcDir/inventory.parquet")
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store,
      mode = SyncMode.Merge)
    assert(mgr.runCycle(Instant.parse("2024-07-01T00:00:00Z")).success)

    // the source gains `grade`; row 2 updated, row 3 inserted
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$srcDir/inventory.parquet"), true)
    Seq((1L, 5L, Option.empty[String], ts("2024-01-01 00:00:00")),
        (2L, 99L, Some("A"), ts("2024-01-06 00:00:00")),
        (3L, 7L, Some("B"), ts("2024-01-05 00:00:00")))
      .toDF("id", "quantity", "grade", "updated_at")
      .write.parquet(s"$srcDir/inventory.parquet")
    val r2 = mgr.runCycle(Instant.parse("2024-07-01T01:00:00Z"))
    assert(r2.success, r2.error)
    val snap = spark.read.parquet(
      store.tableDir(r2.manifest.get.version, "inventory").toString)
    assert(snap.columns.contains("grade"),
      "added source column did not appear in the next snapshot")
    val byId = snap.select("id", "quantity", "grade")
      .as[(Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(byId == Seq((1L, 5L, None), (2L, 99L, Some("A")),
      (3L, 7L, Some("B"))), byId.mkString(";"))
  }

  test("merge fails loudly on dropped/retyped columns; FullRebuild recovers") {
    val srcDir = Files.createTempDirectory("graft-dropcol-src").toString
    val snapDir = Files.createTempDirectory("graft-dropcol-snap").toString
    def writeSource(df: org.apache.spark.sql.DataFrame): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$srcDir/inventory.parquet"), true)
      df.write.parquet(s"$srcDir/inventory.parquet")
    }
    writeSource(Seq((1L, 5L, ts("2024-01-01 00:00:00")),
        (2L, 3L, ts("2024-01-02 00:00:00")))
      .toDF("id", "quantity", "updated_at"))
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store,
      mode = SyncMode.Merge)
    assert(mgr.runCycle(Instant.parse("2024-07-01T00:00:00Z")).success)
    val wm1 = StoredWatermarks(store)("inventory")
    val gen1 = store.readCurrentManifest().get.version

    // the source drops `quantity` (and bumps a row so the delta is
    // non-empty): clear diagnosis, not a mid-publish AnalysisException
    writeSource(Seq((1L, ts("2024-01-01 00:00:00")),
        (2L, ts("2024-02-01 00:00:00")))
      .toDF("id", "updated_at"))
    val rDrop = mgr.runCycle(Instant.parse("2024-07-01T01:00:00Z"))
    assert(!rDrop.success, "dropped-column MERGE cycle must fail")
    assert(rDrop.error.exists(e => e.contains("SchemaDrift") &&
        e.contains("quantity") && e.contains("FullRebuild")),
      s"drift error lacks the diagnosis: ${rDrop.error}")
    assert(StoredWatermarks(store)("inventory") == wm1,
      "watermark advanced past a failed drift cycle")
    assert(store.readCurrentManifest().get.version == gen1,
      "a failed drift cycle published a generation")

    // retyped column: same loud failure naming the type change
    writeSource(Seq(("1", 5L, ts("2024-01-01 00:00:00")),
        ("2", 3L, ts("2024-02-01 00:00:00")))
      .toDF("id", "quantity", "updated_at"))
    val rRetype = mgr.runCycle(Instant.parse("2024-07-01T02:00:00Z"))
    assert(!rRetype.success &&
      rRetype.error.exists(e => e.contains("changed column type") &&
        e.contains("id") && e.contains("FullRebuild")),
      s"retype error lacks the diagnosis: ${rRetype.error}")

    // the documented remedy: one FullRebuild cycle adopts the schema
    writeSource(Seq((1L, ts("2024-01-01 00:00:00")),
        (2L, ts("2024-02-01 00:00:00")))
      .toDF("id", "updated_at"))
    val rFull = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store,
      mode = SyncMode.FullRebuild)
      .runCycle(Instant.parse("2024-07-01T03:00:00Z"))
    assert(rFull.success, rFull.error)
    val rebuilt = spark.read.parquet(
      store.tableDir(rFull.manifest.get.version, "inventory").toString)
    assert(!rebuilt.columns.contains("quantity") && rebuilt.count() == 2)
    // and MERGE cycles resume cleanly against the rebuilt generation
    assert(mgr.runCycle(Instant.parse("2024-07-01T04:00:00Z")).success)
  }

  test("failed publish leaves the watermark behind — no skipped rows") {
    // The T2 invariant SyncManager claims in code: watermarks advance
    // ONLY after a publish lands. If a cycle computed the new watermark
    // from its delta, then failed to publish, and STILL advanced, every
    // row in (old, new] would be skipped forever — silent data loss on
    // any transient publish failure at 100 TB.
    val srcDir = Files.createTempDirectory("graft-wmfail-src").toString
    val snapDir = Files.createTempDirectory("graft-wmfail-snap").toString
    def writeSource(rows: Seq[(Long, Long, Timestamp)]): Unit =
      rows.toDF("id", "quantity", "updated_at")
        .repartition(1).write.mode("overwrite")
        .parquet(s"$srcDir/inventory.parquet")
    writeSource(Seq((1L, 5L, ts("2024-01-01 00:00:00"))))
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store,
      mode = SyncMode.Merge)
    val r1 = mgr.runCycle(Instant.parse("2024-07-01T00:00:00Z"))
    assert(r1.success)
    val wm1 = StoredWatermarks(store)("inventory")

    // a new row arrives; then the previous generation is damaged so the
    // MERGE's publish phase fails AFTER change detection computed the
    // would-be watermark
    writeSource(Seq(
      (1L, 5L, ts("2024-01-01 00:00:00")),
      (2L, 9L, ts("2024-02-01 00:00:00"))))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val gen1Table = store.tableDir(r1.manifest.get.version, "inventory")
    val aside = new org.apache.hadoop.fs.Path(gen1Table.toString + ".aside")
    assert(fs.rename(gen1Table, aside))
    val r2 = mgr.runCycle(Instant.parse("2024-07-01T01:00:00Z"))
    assert(!r2.success, "publish should have failed against the damaged prev")
    assert(StoredWatermarks(store)("inventory") == wm1,
      "watermark advanced past a FAILED publish — rows in (old, new] " +
        "would be skipped forever")

    // repair: the next tick retries from scratch and the delta row lands
    assert(fs.rename(aside, gen1Table))
    val r3 = mgr.runCycle(Instant.parse("2024-07-01T02:00:00Z"))
    assert(r3.success, r3.error)
    assert(r3.changedCounts("inventory") == 1L, s"delta lost: $r3")
    val merged = spark.read.parquet(
      store.tableDir(r3.manifest.get.version, "inventory").toString)
    assert(merged.filter($"id" === 2L).count() == 1L,
      "the row from the failed cycle never arrived")
  }

  test("losing the MERGE key fails loudly; unkeyed tables full-read silently") {
    // a keyed table whose source LOST the merge key must fail like any
    // other dropped column — the silent alternative (a full source
    // read EVERY cycle forever, key column erased from the snapshot)
    // is the 100 TB expensive accident the drop guard exists to stop.
    // Tables never keyed, or whose keyless schema was adopted via
    // FullRebuild, keep the reference's full-read cycle semantics.
    val srcDir = Files.createTempDirectory("graft-key-src").toString
    val snapDir = Files.createTempDirectory("graft-key-snap").toString
    Seq((1L, 5L, ts("2024-01-01 00:00:00")),
        (2L, 9L, ts("2024-01-02 00:00:00")))
      .toDF("id", "quantity", "updated_at")
      .write.parquet(s"$srcDir/inventory.parquet")
    val store = new SnapshotStore(spark, snapDir)
    def merge() = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store,
      mode = SyncMode.Merge)
    val r1 = merge().runCycle(Instant.parse("2024-12-01T00:00:00Z"))
    assert(r1.success, r1.error)
    val wm1 = StoredWatermarks(store)("inventory")

    // the source loses `id` (and bumps a row so the delta is non-empty)
    spark.read.parquet(s"$srcDir/inventory.parquet")
      .drop("id")
      .write.parquet(s"$srcDir/__next")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$srcDir/inventory.parquet"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$srcDir/__next"),
      new org.apache.hadoop.fs.Path(s"$srcDir/inventory.parquet"))

    val rDrop = merge().runCycle(Instant.parse("2024-12-01T01:00:00Z"))
    assert(!rDrop.success, "losing the MERGE key must fail the cycle")
    assert(rDrop.error.exists(e => e.contains("SchemaDrift") &&
      e.contains("id") && e.contains("FullRebuild")),
      s"key-loss error lacks the diagnosis: ${rDrop.error}")
    assert(StoredWatermarks(store)("inventory") == wm1,
      "watermark moved on a key-loss failure")
    assert(store.readCurrentManifest().get.version == r1.manifest.get.version,
      "a failed key-loss cycle published")

    // explicit adoption: one FullRebuild takes the keyless schema...
    val rFull = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), store,
      mode = SyncMode.FullRebuild)
      .runCycle(Instant.parse("2024-12-01T02:00:00Z"))
    assert(rFull.success, rFull.error)
    val adopted = spark.read.parquet(
      store.tableDir(rFull.manifest.get.version, "inventory").toString)
    assert(!adopted.columns.contains("id") && adopted.count() == 2)

    // ...and subsequent Merge cycles on the now-unkeyed table degrade
    // to silent full reads (reference T4 semantics), publishing the
    // full source each time
    val rResume = merge().runCycle(Instant.parse("2024-12-01T03:00:00Z"))
    assert(rResume.success, s"unkeyed Merge cycle failed: ${rResume.error}")
    assert(rResume.manifest.get.tables("inventory") == 2L)
  }

  test("publisher torn-pointer taxonomy: parse-shaped heals, bugs and IO errors fail soft") {
    // the verdict-pinned contract around SyncManager's pointer read:
    //  - MalformedManifest (bad JSON *or* valid JSON missing required
    //    fields) ⇒ treat as absent: the Merge cycle bootstraps and its
    //    publish REWRITES the pointer (self-heal);
    //  - anything else (an injected NPE standing in for a genuine code
    //    bug, an IOException standing in for a store blip) ⇒ T7
    //    fail-soft: the cycle fails, NO bootstrap full read happens, no
    //    generation is published, the watermark holds, and the next
    //    healthy tick proceeds normally.
    val srcDir = Files.createTempDirectory("graft-taxo-src").toString
    val snapDir = Files.createTempDirectory("graft-taxo-snap").toString
    Seq((1L, 5L, ts("2024-01-01 00:00:00")),
        (2L, 9L, ts("2024-01-02 00:00:00")))
      .toDF("id", "quantity", "updated_at")
      .write.parquet(s"$srcDir/inventory.parquet")
    val store = new SnapshotStore(spark, snapDir)
    def mgrOn(s: SnapshotStore) = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("inventory")), s,
      mode = SyncMode.Merge)

    val r1 = mgrOn(store).runCycle(Instant.parse("2024-10-01T00:00:00Z"))
    assert(r1.success, r1.error)
    val wm1 = StoredWatermarks(store)("inventory")

    // ── round 1: valid JSON, missing required field — heals ────────
    store.writeString(store.currentManifestPath,
      """{"timestamp":"t","snapshot_key":"k"}""")
    val r2 = mgrOn(store).runCycle(Instant.parse("2024-10-01T01:00:00Z"))
    assert(r2.success,
      s"field-missing pointer wedged the publisher: ${r2.error}")
    assert(store.readCurrentManifest().get.version ==
      r2.manifest.get.version, "publish did not rewrite the torn pointer")
    assert(r2.manifest.get.tables("inventory") == 2L)

    // ── round 2: truncated JSON (torn mid-write) — heals ───────────
    val full = graft.model.Manifest.toJson(store.readCurrentManifest().get)
    store.writeString(store.currentManifestPath,
      full.take(full.length / 2))
    val r3 = mgrOn(store).runCycle(Instant.parse("2024-10-01T02:00:00Z"))
    assert(r3.success,
      s"truncated pointer wedged the publisher: ${r3.error}")
    assert(store.readCurrentManifest().get.version ==
      r3.manifest.get.version)

    // ── round 3: injected NPE (a genuine bug) — propagates, no
    // bootstrap ──────────────────────────────────────────────────────
    val gensBefore = store.listGenerations()
    val buggy = new SnapshotStore(spark, snapDir) {
      override def readCurrentManifest(): Option[graft.model.Manifest] =
        throw new NullPointerException("injected bug in unrelated code")
    }
    val r4 = mgrOn(buggy).runCycle(Instant.parse("2024-10-01T03:00:00Z"))
    assert(!r4.success,
      "an NPE from unrelated code was silently healed as a torn pointer")
    assert(r4.error.exists(_.contains("NullPointerException")),
      s"failure cause lost: ${r4.error}")
    assert(store.listGenerations() == gensBefore,
      "a failed cycle published a generation (bootstrap full read " +
        "happened despite the bug)")
    assert(StoredWatermarks(store)("inventory") == wm1,
      "watermark moved on a failed cycle")

    // ── round 4: injected IOException (a store blip) — fail-soft ───
    val flaky = new SnapshotStore(spark, snapDir) {
      override def readCurrentManifest(): Option[graft.model.Manifest] =
        throw new java.io.IOException("injected transient store blip")
    }
    val r5 = mgrOn(flaky).runCycle(Instant.parse("2024-10-01T04:00:00Z"))
    assert(!r5.success && r5.error.exists(_.contains("IOException")))
    assert(store.listGenerations() == gensBefore)

    // ── recovery: the next healthy tick proceeds normally ──────────
    val r6 = mgrOn(store).runCycle(Instant.parse("2024-10-01T05:00:00Z"))
    assert(r6.success, r6.error)
    assert(store.readCurrentManifest().get.version ==
      r6.manifest.get.version)
  }

  test("source describe exposes (name, type, nullable) for file sources") {
    val (srcDir, _) = env
    val cols = new ParquetSource(srcDir, Seq("inventory"))
      .describe(spark, "inventory")
    assert(cols.map(_.name) ==
      Seq("id", "name", "quantity", "price", "updated_at"))
    assert(cols.forall(_.dataType.nonEmpty))
    // parquet columns written from nullable frames stay nullable
    assert(cols.head.nullable)
  }

  test("failure is soft (T7)") {
    val (_, snapDir) = env
    val store = new SnapshotStore(spark, snapDir)
    val badSource = new ParquetSource("/nonexistent", Seq("nope"))
    val mgr = new SyncManager(spark, badSource, store)
    val r = mgr.runCycle()
    assert(!r.success && r.error.nonEmpty)
  }

  test("zero-width swap: adoption is one volatile session publish; a captured session never mixes generations") {
    // round 15 (closes the limitation register() documented in r14):
    // the per-view swap loop over the SHARED session let a query racing
    // a successful refresh resolve some tables on the new generation
    // and some on the old. Adoption now registers the generation's
    // views in a FRESH child session published by a single volatile
    // write, so one captured session == one complete generation —
    // pinned three ways: (a) adoption swaps the session object and the
    // new one serves the new generation whole; (b) the PREVIOUS session
    // still serves its generation whole afterwards (a refresh never
    // mutates a session an in-flight query may hold); (c) a hammering
    // thread capturing sessions across repeated publishes never
    // observes a left/right generation mismatch.
    val srcDir = Files.createTempDirectory("graft-swap-src").toString
    val snapDir = Files.createTempDirectory("graft-swap-snap").toString
    def seedGen(g: Int): Unit = Seq("left_t", "right_t").foreach { t =>
      (1 to 3).map(i => (i.toLong, g.toLong, ts(s"2024-01-0$i 00:00:00")))
        .toDF("id", "gen", "updated_at")
        .write.mode("overwrite").parquet(s"$srcDir/$t.parquet")
    }
    seedGen(1)
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("left_t", "right_t")), store)
    assert(mgr.runCycle(Instant.parse("2024-09-01T00:00:00Z")).success)
    @volatile var now = Instant.parse("2024-09-01T00:00:00Z")
    val reader = new SnapshotReader(store,
      ttl = java.time.Duration.ofSeconds(120), clock = () => now)
    assert(reader.refreshIfStale())
    val s1 = reader.session
    def gens(s: org.apache.spark.sql.SparkSession): (Long, Long) = {
      val r = s.sql("SELECT (SELECT max(gen) FROM left_t) AS lg," +
        " (SELECT max(gen) FROM right_t) AS rg").first()
      (r.getLong(0), r.getLong(1))
    }
    assert(gens(s1) == ((1L, 1L)))

    // (a) adoption publishes a NEW session serving the new generation
    seedGen(2)
    assert(mgr.runCycle(Instant.parse("2024-09-01T01:00:00Z")).success)
    now = now.plusSeconds(300)
    assert(reader.refreshIfStale())
    val s2 = reader.session
    assert(!(s2 eq s1), "adoption must swap the serving session, not " +
      "mutate the one in-flight queries hold")
    assert(gens(s2) == ((2L, 2L)))
    // (b) the captured previous session still serves ITS generation
    // whole — the swap is invisible to a query that started before it
    assert(gens(s1) == ((1L, 1L)),
      "a refresh mutated a previously-captured session's catalog")
    // a non-adopting lapse re-reads the pointer but must NOT churn the
    // serving session (same generation == same catalog object)
    now = now.plusSeconds(300)
    assert(!reader.refreshIfStale())
    assert(reader.session eq s2, "non-adopting refresh churned the session")

    // (c) hammer: capture-and-join across live publishes — zero mixes
    val mixes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var stop = false
    val hammer = new Thread(() =>
      try while (!stop) {
        val g = gens(reader.session)
        if (g._1 != g._2) mixes.add(g)
      } catch { case e: Throwable => errs.add(e) })
    hammer.start()
    (3 to 6).foreach { g =>
      seedGen(g)
      assert(mgr.runCycle(
        Instant.parse(s"2024-09-01T0$g:00:00Z")).success)
      now = now.plusSeconds(300)
      assert(reader.refreshIfStale())
    }
    stop = true
    hammer.join(30000)
    assert(errs.isEmpty, s"hammer failed: ${errs.peek()}")
    assert(mixes.isEmpty, s"mixed-generation reads observed: $mixes")
    assert(gens(reader.session) == ((6L, 6L)))
  }
}
