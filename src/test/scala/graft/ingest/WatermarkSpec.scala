package graft.ingest

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.model.Manifest
import graft.snapshot.SnapshotStore

/** Watermarks ride in the manifest that publishes each generation, as
  * `watermark.<table>` metadata entries. A GARBAGE watermark is
  * strictly worse than a LOST one: the cycle either wedges forever (the
  * delta scan's cast fails every tick) or, where the garbage casts to
  * NULL, the strict-`>` delta predicate goes eternally false and every
  * future row of that table is silently skipped. So per-entry garbage
  * drops only that entry (the next cycle re-reads the table in full and
  * records it again), and a cycle never records a value it could not
  * read back. The torn or absent pointer itself is pinned by
  * SnapshotSyncSpec's torn-pointer rounds and ManifestSpec's strict
  * parse.
  */
class WatermarkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def t(s: String) = Instant.parse(s)

  /** The watermarks a manifest recording `state` yields after the
    * pointer's JSON round-trip. */
  private def roundTrip(state: Map[String, String]): Map[String, String] =
    SyncManager.watermarksOf(Manifest.fromJson(Manifest.toJson(Manifest(
      "20240101_000000000", "2024-01-01T00:00:00Z",
      "history/20240101_000000000", Map.empty,
      Map("engine" -> "seretlspark", "batch_id" -> "7") ++
        state.map { case (k, v) => s"watermark.$k" -> v }))))

  test("every format a cycle can record round-trips through the manifest") {
    // every supported watermark column type's cast-to-string shape:
    // TIMESTAMP (space-separated, optional fraction), ISO tolerance
    // forms, DATE, and numeric version counters / rowversion (round 14
    // — the timestamp-only load dropped the last two as "corruption",
    // permanently degrading those tables to full re-reads every cycle)
    val state = Map(
      "plain" -> "2024-01-01 00:00:00",
      "micros" -> "2024-01-01 00:00:00.123456",
      "iso_t" -> "2024-01-01T00:00:00",
      "iso_z" -> "2024-01-01T00:00:00Z",
      "date_col" -> "2024-01-01",
      "int_col" -> "12345",
      "neg_col" -> "-7",
      "dec_col" -> "123.450000",
      // FLOAT/DOUBLE casts (round 15): Java Double.toString shapes —
      // scientific notation past the plain-decimal range
      "dbl_col" -> "1.2345678E7",
      "dbl_small" -> "1.0E-4",
      "dbl_neg" -> "-3.5E10",
      "dbl_max" -> "1.7976931348623157E308")
    assert(roundTrip(state) == state)
  }

  test("a DATE watermark column stays incremental across cycles") {
    // end-to-end regression for the round-14 advice: a DATE (or
    // numeric) watermark column's recorded state must survive the next
    // cycle's load, so the delta scan stays incremental. Before the
    // fix, load dropped the entry and EVERY subsequent cycle did a
    // full table read while warning about corruption that never
    // happened.
    import org.apache.spark.sql.functions.{col, to_date}
    val srcDir = Files.createTempDirectory("graft-wm-date-src").toString
    val snapDir = Files.createTempDirectory("graft-wm-date-snap").toString
    Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),
      (2L, ts("2024-01-02 00:00:00"), 20.0),
      (3L, ts("2024-01-03 00:00:00"), 30.0))
      .toDF("id", "updated_at", "v")
      .withColumn("updated_at", to_date(col("updated_at")))
      .write.mode("overwrite").parquet(s"$srcDir/ditems.parquet")
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("ditems")), store,
      mode = SyncMode.Merge)
    val r1 = mgr.runCycle(t("2024-02-01T00:00:00Z"))
    assert(r1.success, r1.error)
    assert(StoredWatermarks(store)("ditems") == "2024-01-03",
      "DATE watermark was not recorded in the date cast shape")
    // the second cycle must be CHEAP: strict > on the loaded DATE
    // watermark, zero changed rows — not a full-read bootstrap
    val r2 = mgr.runCycle(t("2024-02-01T01:00:00Z"))
    assert(r2.success && r2.changedCounts("ditems") == 0L,
      s"DATE watermark was dropped on load — the cycle degraded to a " +
        s"full re-read: $r2")
  }

  test("a DOUBLE watermark round-trips; a NaN one is never recorded") {
    // r15 ADVICE: Spark's double→string cast emits Java Double.toString
    // shapes — "1.2345678E7" past the plain-decimal range — which the
    // bare NumericLiteral rejected, silently degrading a double
    // watermark to a full re-read every cycle. And the NON-finite casts
    // must never be recorded at all: a stored "NaN" casts back to NaN,
    // the strict-`>` delta predicate goes eternally false, and every
    // future row of the table is silently skipped — the worst failure
    // class the watermark knows. Pinned end-to-end on a real sync.
    val srcDir = Files.createTempDirectory("graft-wm-dbl-src").toString
    val snapDir = Files.createTempDirectory("graft-wm-dbl-snap").toString
    def seed(rows: Seq[(Long, Double, Double)]): Unit =
      rows.toDF("id", "updated_at", "v")
        .write.mode("overwrite").parquet(s"$srcDir/fitems.parquet")
    seed(Seq((1L, 1.0e7, 10.0), (2L, 1.2345678e7, 20.0)))
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("fitems")), store,
      mode = SyncMode.Merge)
    val r1 = mgr.runCycle(t("2024-02-01T00:00:00Z"))
    assert(r1.success, r1.error)
    assert(StoredWatermarks(store)("fitems") == "1.2345678E7",
      "double watermark not recorded in the Double.toString cast shape")
    // the loaded scientific-notation watermark keeps the cycle cheap
    val r2 = mgr.runCycle(t("2024-02-01T01:00:00Z"))
    assert(r2.success && r2.changedCounts("fitems") == 0L,
      s"scientific-notation watermark dropped on load — degraded to a" +
        s" full re-read: $r2")

    // a NaN lands in the watermark column: Spark's ordering makes it
    // the max (NaN is greatest), so the advance WOULD be "NaN"
    seed(Seq((1L, 1.0e7, 10.0), (2L, 1.2345678e7, 20.0),
      (3L, Double.NaN, 30.0)))
    val r3 = mgr.runCycle(t("2024-02-01T02:00:00Z"))
    assert(r3.success, r3.error)
    assert(r3.changedCounts("fitems") == 1L,
      s"the NaN row must be visible to the strict-> delta scan " +
        s"(NaN is greatest under Spark ordering): $r3")
    assert(StoredWatermarks(store)("fitems") == "1.2345678E7",
      "a NaN watermark was recorded — it would make strict-> " +
        "eternally false and silently skip every future row")
    // subsequent cycles RE-READ the NaN row (expensive + loud beats
    // silently skipped) and still refuse to advance onto it
    val r4 = mgr.runCycle(t("2024-02-01T03:00:00Z"))
    assert(r4.success && r4.changedCounts("fitems") == 1L,
      s"the NaN row was silently skipped: $r4")
    // the published snapshot carries it exactly once (MERGE on id)
    val snap = spark.read.parquet(
      store.tableDir(r4.manifest.get.version, "fitems").toString)
    assert(snap.count() == 3L && snap.filter($"id" === 3L).count() == 1L)
  }

  test("a cycle writes only the generation manifest and the pointer") {
    // the publish is the only sync record: the watermarks ride in the
    // pointer the swap writes, so a cycle makes no store write of its
    // own for them and there is no state file
    val srcDir = Files.createTempDirectory("graft-wm-batch-src").toString
    val snapDir = Files.createTempDirectory("graft-wm-batch-snap").toString
    Seq((1L, ts("2024-01-01 00:00:00"), 10.0),
        (2L, ts("2024-01-02 00:00:00"), 20.0))
      .toDF("id", "updated_at", "v")
      .write.mode("overwrite").parquet(s"$srcDir/wa.parquet")
    Seq((1L, ts("2024-01-05 00:00:00"), 1.0),
        (2L, ts("2024-01-06 00:00:00"), 2.0))
      .toDF("id", "updated_at", "v")
      .write.mode("overwrite").parquet(s"$srcDir/wb.parquet")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    val store = new SnapshotStore(spark, snapDir) {
      override def writeString(p: Path, content: String): Unit = {
        writes.add(p)
        super.writeString(p, content)
      }
    }
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("wa", "wb")), store,
      mode = SyncMode.Merge)
    val r1 = mgr.runCycle(t("2024-02-01T00:00:00Z"))
    assert(r1.success, r1.error)
    val gen1 = new Path(store.genDir(r1.manifest.get.version), "manifest.json")
    assert(writes.toArray.toSeq == Seq(gen1, store.currentManifestPath),
      s"expected the generation manifest and the pointer, got $writes")
    assert(!store.fs.exists(new Path(store.rootPath, "state")),
      "a cycle left a state directory beside the snapshots")
    val recorded = Map(
      "watermark.wa" -> "2024-01-02 00:00:00",
      "watermark.wb" -> "2024-01-06 00:00:00")
    assert(recorded.toSet.subsetOf(
      store.readCurrentManifest().get.metadata.toSet),
      store.readCurrentManifest())
    // an all-empty-delta cycle advances nothing and carries both
    // watermarks forward into its own pointer
    val r2 = mgr.runCycle(t("2024-02-01T01:00:00Z"))
    assert(r2.success && r2.changedCounts.values.forall(_ == 0L), s"$r2")
    assert(writes.size == 4, s"the second cycle wrote ${writes.size - 2} files")
    assert(recorded.toSet.subsetOf(
      store.readCurrentManifest().get.metadata.toSet),
      "an empty-delta cycle dropped a watermark")
  }

  test("property: recordable shapes round-trip; other shapes never do") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pad2 = (n: Int) => f"$n%02d"
    // the string-cast images of the supported watermark column types
    val tsG = for {
      y <- Gen.choose(1970, 2100); mo <- Gen.choose(1, 12)
      d <- Gen.choose(1, 28); h <- Gen.choose(0, 23)
      mi <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
      frac <- Gen.oneOf("", ".1", ".123", ".123456")
    } yield s"$y-${pad2(mo)}-${pad2(d)} ${pad2(h)}:${pad2(mi)}:${pad2(s)}$frac"
    val dateG = for {
      y <- Gen.choose(1970, 2100); mo <- Gen.choose(1, 12)
      d <- Gen.choose(1, 28)
    } yield s"$y-${pad2(mo)}-${pad2(d)}"
    val numG = for {
      neg <- Gen.oneOf("", "-")
      digits <- Gen.choose(1, 38)
      ds <- Gen.listOfN(digits, Gen.numChar).map(_.mkString)
      frac <- Gen.oneOf(Gen.const(""), Gen.listOfN(6, Gen.numChar)
        .map("." + _.mkString))
    } yield s"$neg$ds$frac"
    // finite FLOAT/DOUBLE casts (round 15): the literal Double.toString
    // image, exactly what max(col).cast("string") yields for a double
    // watermark column
    val dblG = Gen.chooseNum(-1.0e300, 1.0e300)
      .suchThat(d => !d.isNaN && !d.isInfinite).map(_.toString)
    val goodG = Gen.oneOf(tsG, dateG, numG, dblG)
    val stateG = Gen.mapOf(Gen.zip(Gen.identifier.suchThat(_.nonEmpty), goodG))
    val roundTrips = Prop.forAll(stateG)(state => roundTrip(state) == state)
    // shapes a cycle cannot record: any letter anywhere, a 39+-digit
    // blob, empty — must drop (never silently feed the strict-> cast)
    val badG = Gen.oneOf(
      Gen.identifier.suchThat(s => s.exists(_.isLetter)),
      Gen.listOfN(45, Gen.numChar).map(_.mkString),
      Gen.const(""))
    val drops = Prop.forAll(badG)(bad => roundTrip(Map("t" -> bad)).isEmpty)
    Seq(roundTrips, drops).foreach { p =>
      val r = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(120), p)
      assert(r.passed, r.status.toString)
    }
  }

  test("per-entry garbage in a manifest drops only that entry") {
    assert(roundTrip(Map(
      "good_num" -> "12345", "good_date" -> "2024-01-01",
      "blob" -> "9999999999999999999999999999999999999999999",
      "notanum" -> "12a45", "baddate" -> "2024-13-99",
      "empty" -> "", "text" -> "not a timestamp")) == Map(
      "good_num" -> "12345", "good_date" -> "2024-01-01"),
      "a garbage shape round-tripped (or a legitimate one was dropped)")

    // end-to-end: a pointer whose one watermark entry is garbage costs
    // that table ONE full delta scan; the other table stays incremental
    // and the publish records the dropped watermark again
    val srcDir = Files.createTempDirectory("graft-wm-junk-src").toString
    val snapDir = Files.createTempDirectory("graft-wm-junk-snap").toString
    Seq((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-02 00:00:00")),
        (3L, ts("2024-01-03 00:00:00")))
      .toDF("id", "updated_at")
      .write.mode("overwrite").parquet(s"$srcDir/ja.parquet")
    Seq((1L, ts("2024-01-05 00:00:00")), (2L, ts("2024-01-06 00:00:00")))
      .toDF("id", "updated_at")
      .write.mode("overwrite").parquet(s"$srcDir/jb.parquet")
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("ja", "jb")), store,
      mode = SyncMode.Merge)
    val r1 = mgr.runCycle(t("2024-02-01T00:00:00Z"))
    assert(r1.success, r1.error)
    val healthy = StoredWatermarks(store)
    val m = store.readCurrentManifest().get
    store.writeString(store.currentManifestPath, Manifest.toJson(
      m.copy(metadata = m.metadata + ("watermark.ja" -> "not a timestamp"))))
    assert(StoredWatermarks(store) == healthy - "ja")

    val r2 = mgr.runCycle(t("2024-02-01T01:00:00Z"))
    assert(r2.success, r2.error)
    assert(r2.changedCounts == Map("ja" -> 3L, "jb" -> 0L),
      s"expected one full scan of ja only, got ${r2.changedCounts}")
    assert(StoredWatermarks(store) == healthy,
      "the publish did not record the dropped watermark again")
    val snap = spark.read.parquet(
      store.tableDir(r2.manifest.get.version, "ja").toString)
    assert(snap.count() == 3L && snap.select("id").distinct().count() == 3L)
  }
}
