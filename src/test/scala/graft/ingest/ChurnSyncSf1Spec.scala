package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.snapshot.SnapshotStore

/** Churned incremental-sync end-to-end at the sf1 scale point: the
  * reference's core loop (T2–T4) driven through multiple MERGE cycles
  * of inserts + updates against ~1.5M-row orders, with a FRESH
  * SyncManager per cycle (watermark durability across restarts is part
  * of the claim), a strict-`>` watermark tie row (reference semantics
  * T3: a row stamped exactly AT the watermark is skipped until a later
  * update bumps it), a no-change cycle (watermark must not move), and
  * two schema-drift rounds: a mid-churn column ADD (adopted, NULL for
  * rows the delta never re-read — the reference's CTAS observable) and
  * a column DROP (clear pre-publish diagnosis, watermark + generation
  * hold, FullRebuild recovers).
  *
  * The final snapshot is oracle-checked against an independently
  * computed expectation: latest-version-per-id over the full version
  * history (initial load ∪ every churn delta), a window-rank
  * formulation that shares no code path with SyncManager's iterative
  * anti-join MERGE.
  *
  * Cancels when `localdata/sf1` is absent (synthesized per-round by
  * tools.ScaleUp, not committed).
  */
class ChurnSyncSf1Spec extends SparkSpec {

  private val sf1 = sys.env.getOrElse("GRAFT_SF1_DIR", "localdata/sf1")

  private def cycleTs(c: Int) = s"2030-01-0$c 00:00:00"

  /** Order-insensitive digest over the full row set. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val row = df.select(
      count(lit(1)).as("n"),
      sum(xxhash64(df.columns.sorted.map(col).toSeq: _*)
        .cast("decimal(38,0)")).as("h")).collect()(0)
    (row.getLong(0), row.getDecimal(1))
  }

  /** Swap-in a new source table dir: write aside, then replace. */
  private def replaceSource(srcDir: String, next: DataFrame): Unit = {
    val tmp = s"$srcDir/__next"
    next.write.mode(SaveMode.Overwrite).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dest = new org.apache.hadoop.fs.Path(s"$srcDir/orders.parquet")
    fs.delete(dest, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dest)
  }

  test("multi-cycle MERGE churn at sf1 converges to the version-history oracle") {
    assume(Files.exists(Paths.get(s"$sf1/orders.parquet")),
      s"sf1 scale point not synthesized at $sf1")

    val srcDir = Files.createTempDirectory("graft-churn-src").toString
    val snapDir = Files.createTempDirectory("graft-churn-snap").toString
    val archive = Files.createTempDirectory("graft-churn-hist").toString
    val store = new SnapshotStore(spark, snapDir)
    def manager() = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("orders")), store,
      mode = SyncMode.Merge)

    // initial source: sf1 orders as an id/updated_at-conventioned table
    // cast pins one timestamp flavor regardless of the testdata vintage
    // (o_orderdate ships as TIMESTAMP_NTZ on the current vintage; the
    // churn rows below are TimestampType)
    val initial = graft.core.Tables.load(spark, sf1, "orders")
      .select(col("o_orderkey").as("id"),
        col("o_orderdate").cast("timestamp").as("updated_at"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    initial.write.parquet(s"$srcDir/orders.parquet")
    initial.write.parquet(s"$archive/v0")
    val n0 = spark.read.parquet(s"$archive/v0").count()
    // derive fresh-id space from the DATA: ScaleUp synthesizes sf1 by
    // replicating with +10M key offsets, so hardcoded "big" ids collide
    // with real base rows (measured: id 20000000 exists at sf1)
    val maxId = spark.read.parquet(s"$archive/v0")
      .agg(max("id")).first().getLong(0)
    val tieId = maxId + 900000L

    // ── cycle 1: bootstrap (full load) ─────────────────────────────
    val r1 = manager().runCycle()
    assert(r1.success, s"bootstrap failed: ${r1.error}")
    assert(r1.manifest.get.tables("orders") == n0)

    // ── churn cycles 2..4: updates + inserts, fresh manager each ───
    (1 to 3).foreach { c =>
      val cur = spark.read.parquet(s"$srcDir/orders.parquet")
      val updates = cur
        .filter(col("id") % 1009 === c && col("id") <= maxId)
        .withColumn("updated_at", to_timestamp(lit(cycleTs(c))))
        .withColumn("o_totalprice", col("o_totalprice") + c * 1000.0)
      val inserts = spark.range(2000).select(
        (lit(maxId + 1L + c * 100000L) + col("id")).as("id"),
        to_timestamp(lit(cycleTs(c))).as("updated_at"),
        (col("id") % 1000).as("o_custkey"),
        lit("N").as("o_orderstatus"),
        (col("id") * 1.25).as("o_totalprice"))
      // the strict-`>` tie probe: inserted in cycle 2 with updated_at
      // EXACTLY at the cycle-1 watermark → the delta scan must skip it;
      // cycle 3 bumps it and it must then arrive
      val tie =
        if (c == 2) spark.range(1).select(
          lit(tieId).as("id"),
          to_timestamp(lit(cycleTs(1))).as("updated_at"),
          lit(7L).as("o_custkey"), lit("T").as("o_orderstatus"),
          lit(42.0).as("o_totalprice"))
        else if (c == 3) spark.range(1).select(
          lit(tieId).as("id"),
          to_timestamp(lit(cycleTs(3))).as("updated_at"),
          lit(7L).as("o_custkey"), lit("T").as("o_orderstatus"),
          lit(43.0).as("o_totalprice"))
        else spark.range(0).select(
          col("id"), to_timestamp(lit(cycleTs(1))).as("updated_at"),
          col("id").as("o_custkey"), lit("").as("o_orderstatus"),
          lit(0.0).as("o_totalprice"))
      val delta = updates.unionByName(inserts).unionByName(tie)
      // materialize the delta BEFORE mutating the source it reads from
      delta.write.parquet(s"$archive/v$c")
      val deltaDisk = spark.read.parquet(s"$archive/v$c")
      val nUpdates = deltaDisk.filter(col("id") <= maxId).count()
      replaceSource(srcDir,
        cur.join(deltaDisk.select("id"), Seq("id"), "left_anti")
          .unionByName(deltaDisk))

      val r = manager().runCycle() // fresh manager: watermark reloads
      assert(r.success, s"cycle $c failed: ${r.error}")
      val expectedChanged = c match {
        case 2 => nUpdates + 2000 // tie row invisible to the delta scan
        case _ => nUpdates + 2000 + (if (c == 3) 1 else 0)
      }
      assert(r.changedCounts("orders") == expectedChanged,
        s"cycle $c changed=${r.changedCounts("orders")} expected=$expectedChanged")

      val snapped = spark.read.parquet(
        store.tableDir(r.manifest.get.version, "orders").toString)
      if (c == 2) {
        // skipped at the watermark: in the source, absent from the snapshot
        assert(spark.read.parquet(s"$srcDir/orders.parquet")
          .filter(col("id") === tieId).count() == 1)
        assert(snapped.filter(col("id") === tieId).count() == 0,
          "strict-> watermark must skip a row stamped exactly AT the watermark")
      }
      if (c == 3)
        assert(snapped.filter(col("id") === tieId)
          .select("o_totalprice").collect()(0).getDouble(0) == 43.0,
          "the bumped tie row must arrive with its latest version")
    }

    // ── no-change cycle: nothing moves ─────────────────────────────
    val wmBefore = StoredWatermarks(store)("orders")
    val r5 = manager().runCycle()
    assert(r5.success && r5.changedCounts("orders") == 0L,
      s"no-change cycle saw changes: $r5")
    assert(StoredWatermarks(store)("orders") == wmBefore,
      "watermark moved on an empty delta")

    // ── drift cycle: the source gains a column mid-churn ───────────
    // reference observable semantics (CTAS-per-cycle, sync.py:84-87):
    // the new column appears in the next snapshot; MERGE adopts it with
    // NULL for rows the delta never re-read
    val cur4 = spark.read.parquet(s"$srcDir/orders.parquet")
    val updates4 = cur4
      .filter(col("id") % 1009 === 4 && col("id") <= maxId)
      .withColumn("updated_at", to_timestamp(lit(cycleTs(4))))
      .withColumn("o_totalprice", col("o_totalprice") + 4000.0)
      .withColumn("o_priority", lit("HIGH"))
    val inserts4 = spark.range(2000).select(
      (lit(maxId + 1L + 4 * 100000L) + col("id")).as("id"),
      to_timestamp(lit(cycleTs(4))).as("updated_at"),
      (col("id") % 1000).as("o_custkey"),
      lit("N").as("o_orderstatus"),
      (col("id") * 1.25).as("o_totalprice"),
      lit("LOW").as("o_priority"))
    updates4.unionByName(inserts4).write.parquet(s"$archive/v4")
    val delta4 = spark.read.parquet(s"$archive/v4")
    val nDelta4 = delta4.count()
    replaceSource(srcDir,
      cur4.withColumn("o_priority", lit(null).cast("string"))
        .join(delta4.select("id"), Seq("id"), "left_anti")
        .unionByName(delta4))
    val r6 = manager().runCycle()
    assert(r6.success, s"column-add drift cycle failed: ${r6.error}")
    val snapped4 = spark.read.parquet(
      store.tableDir(r6.manifest.get.version, "orders").toString)
    assert(snapped4.columns.contains("o_priority"),
      "added source column did not appear in the next snapshot")
    assert(snapped4.filter(col("o_priority").isNotNull).count() == nDelta4,
      "exactly the delta rows must carry the new column's values")

    // ── final oracle: latest version per id over the full history ──
    // (v0..v3 predate o_priority: allowMissingColumns nulls them,
    // which IS the chosen drift semantics being oracle-checked)
    val history = (0 to 4).map(v => spark.read.parquet(s"$archive/v$v"))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      // the tie version (cycle 2) never became visible to sync and was
      // superseded in cycle 3; drop exactly that version from the
      // expectation
      .filter(!(col("id") === tieId &&
        col("updated_at") === to_timestamp(lit(cycleTs(1)))))
    val expected = history
      .withColumn("__rk", row_number().over(
        Window.partitionBy("id").orderBy(col("updated_at").desc)))
      .filter(col("__rk") === 1).drop("__rk")

    val finalSnap = spark.read.parquet(store.tableDir(
      store.readCurrentManifest().get.version, "orders").toString)
    assert(finalSnap.count() == n0 + 4 * 2000 + 1)
    val (en, eh) = digest(expected)
    val (gn, gh) = digest(finalSnap)
    assert(en == gn && eh == gh,
      s"final snapshot diverged from the version-history oracle: " +
        s"expected ($en, $eh) got ($gn, $gh)")

    // ── drift cycle: the source drops a column ─────────────────────
    // must be a clear pre-publish diagnosis (not a mid-publish
    // AnalysisException), the watermark and current generation must
    // hold, and one FullRebuild cycle must recover
    val wmDrift = StoredWatermarks(store)("orders")
    val genDrift = store.readCurrentManifest().get.version
    val cur5 = spark.read.parquet(s"$srcDir/orders.parquet")
    replaceSource(srcDir,
      cur5.drop("o_custkey")
        .withColumn("updated_at",
          when(col("id") === maxId, to_timestamp(lit(cycleTs(5))))
            .otherwise(col("updated_at"))))
    val rDrop = manager().runCycle()
    assert(!rDrop.success, "dropped-column MERGE cycle must fail")
    assert(rDrop.error.exists(e => e.contains("SchemaDrift") &&
        e.contains("o_custkey") && e.contains("FullRebuild")),
      s"drift error lacks the diagnosis: ${rDrop.error}")
    assert(StoredWatermarks(store)("orders") == wmDrift,
      "watermark advanced past a failed drift cycle")
    assert(store.readCurrentManifest().get.version == genDrift,
      "a failed drift cycle published a generation")

    val rFull = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("orders")), store,
      mode = SyncMode.FullRebuild).runCycle()
    assert(rFull.success, s"FullRebuild recovery failed: ${rFull.error}")
    val rebuilt = spark.read.parquet(store.tableDir(
      rFull.manifest.get.version, "orders").toString)
    assert(!rebuilt.columns.contains("o_custkey") &&
      rebuilt.count() == n0 + 4 * 2000 + 1,
      "FullRebuild did not adopt the post-drop source schema")
    // and MERGE cycles resume cleanly against the rebuilt generation
    val rResume = manager().runCycle()
    assert(rResume.success, s"post-rebuild MERGE failed: ${rResume.error}")
  }
}
