package graft.snapshot

import java.time.Instant

import org.apache.spark.sql.DataFrame

import graft.model.{MalformedManifest, Manifest}

/** A publisher observed a manifest carrying a HIGHER publisher epoch
  * than its own at pointer-swap (or prune) time: a newer deployment has
  * taken over this store root, and this instance is the stale half of a
  * deploy overlap. The only safe response is to refuse the mutation —
  * swapping would regress the pointer to an older generation; pruning
  * could GC the generation the successor is serving. The stale
  * instance's cycle fails soft (T7) and the operator retires it.
  */
final class StalePublisherException(msg: String)
  extends RuntimeException(msg)

/** Publishes one snapshot generation (reference sync cycle steps K1-K6,
  * etl-service/src/sync.py:58-157):
  *
  *  1. write every table as parquet under `history/<key>/<table>/`
  *  2. write the per-generation manifest
  *  3. swap `current/manifest.json` — the atomic publish (T6)
  *
  * The manifest's `metadata` is the publisher's progress record:
  * SyncManager's per-table watermarks (`watermark.<table>`) and
  * EventStream's `batch_id` ride in it, and readers ignore it. The
  * swap publishes the record with the generation, so it advances
  * exactly when the generation does and a fenced publisher cannot
  * move it.
  *
  * Scale notes: each table write is a distributed parquet job; callers
  * control partitioning (e.g. `df.repartition(n, $"id")` or
  * `sortWithinPartitions($"updated_at")` for min/max-stat pruning on
  * the watermark column — the Spark analog of the reference's
  * `updated_at` index, SURVEY.md §1.5). Row counts ride on parquet
  * footer metadata, not a second full scan.
  *
  * Contract: ONE publisher per store root, FENCED by `publisherEpoch`.
  * `runCycle` serializes within a process; across processes the epoch
  * is the guard the reference's APScheduler `max_instances=1`
  * (etl-service/src/main.py:80-91) cannot provide once there is more
  * than one node: each deployment claims a strictly larger epoch
  * (SyncManager.claimEpoch), the manifest carries it, and the fence is
  * checked TWICE per publish — before any table write (a fenced
  * wake-up must cost zero bytes, not a discarded 100 TB generation)
  * and again immediately before the pointer swap — observing a higher
  * epoch raises [[StalePublisherException]] instead of regressing the
  * pointer (Retention applies the same guard before pruning). The
  * read-then-rename pair is not CAS, so two publishers racing INSIDE
  * the window between read and rename can still interleave once —
  * but the loser's NEXT cycle observes the winner's epoch and stops,
  * which closes the deploy-overlap shape (old instance still ticking
  * while its replacement publishes). Publishers claiming the SAME
  * epoch are indistinguishable by design — epoch assignment (boot-time
  * claimEpoch under serialized deploys, or a deployer-issued token) is
  * where true mutual exclusion lives, exactly like any fencing-token
  * scheme over a store with no compare-and-swap.
  */
final class SnapshotWriter(store: SnapshotStore,
                           publisherEpoch: Long = 0L) {

  def publish(tables: Map[String, DataFrame],
              now: Instant = Instant.now(),
              sortCol: Option[String] = Some("updated_at"),
              metadata: Map[String, String] = Map.empty): Manifest = {
    val key = SnapshotStore.keyFor(now)

    // Published timestamps must be INT64 TIMESTAMP(MICROS), never the
    // INT96 Spark still defaults to: INT96 columns carry NO usable
    // row-group min/max stats, so a ts predicate on a served snapshot
    // (q29/q36-style time windows, incremental event reads) scans every
    // row group — at 100 TB that is the difference between pruning to
    // the probed window and a full-table scan. Scoped to this publish
    // and restored so a caller session's own writes keep their setting.
    val tsConf = "spark.sql.parquet.outputTimestampType"
    val prior = tables.headOption.map(_._2.sparkSession.conf.get(tsConf))
    tables.headOption.foreach(
      _._2.sparkSession.conf.set(tsConf, "TIMESTAMP_MICROS"))
    try publishTables(tables, key, sortCol, now, metadata)
    finally prior.foreach(v =>
      tables.head._2.sparkSession.conf.set(tsConf, v))
  }

  private def publishTables(tables: Map[String, DataFrame], key: String,
                            sortCol: Option[String],
                            now: Instant,
                            metadata: Map[String, String]): Manifest = {
    // the PRE-WRITE fence (round 14): a fenced instance must discover
    // it is stale BEFORE materializing the snapshot. At 100 TB the
    // table writes ARE the cycle cost — the swap-time check alone let
    // a retired deployment's wake-up build and upload a full
    // generation just to throw it away at the swap, and the sync
    // fuzzer caught the orphan it leaves: a deck whose LAST op was a
    // fenced wake-up ended at 25 surviving generations, the orphan
    // landing after the final prune (seed 1408002). One small pointer
    // read up front turns that into zero bytes written. The at-swap
    // re-read below STAYS — the two checks bracket the non-CAS window
    // (this one cannot see a publisher that lands mid-build).
    fenceOrThrow(key, wrote = false)
    val counts = tables.map { case (name, df) =>
      val sorted = df.schema.fieldNames.find(sortCol.contains) match {
        case Some(c) => df.sortWithinPartitions(c)
        case None => df
      }
      // row count observed DURING the write job (no second job): at
      // 100 TB × 60 s publish cycles even the parquet-footer count
      // fast path is one scheduler round-trip per table per cycle
      // name keyed by generation: two publishers racing in the same
      // session (the deploy-overlap window) must not cross-match
      // observed metrics
      val obs = org.apache.spark.sql.Observation(s"publish_${name}_$key")
      val out = sorted.observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
      val dir = store.tableDir(key, name).toString
      val w = out.write.mode("overwrite")
      // label the write job (cluster-UI attribution; the executor-loss
      // probe also keys its kill on it), restoring any caller-set
      // description after
      val sc = df.sparkSession.sparkContext
      val priorDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"graft publish $name gen $key")
      try w.parquet(dir)
      finally sc.setJobDescription(priorDesc)
      name -> obs.get("rows").asInstanceOf[Long]
    }

    val manifest = Manifest(
      version = key,
      timestamp = now.toString, // ISO-8601, reference sync.py:151
      snapshotKey = s"history/$key",
      tables = counts,
      metadata = Map("engine" -> "seretlspark") ++ metadata,
      publisherEpoch = publisherEpoch)

    val json = Manifest.toJson(manifest)
    store.writeString(new org.apache.hadoop.fs.Path(
      store.genDir(key), "manifest.json"), json)
    // the fence: re-read the pointer IMMEDIATELY before the swap. A
    // torn pointer proves nothing about epochs BY ITSELF — but
    // generation manifests are written atomically before every swap, so
    // a higher-epoch publisher that ever published here is still
    // visible through history: fall back to the max recorded epoch
    // instead of healing blindly (a foreign torn pointer scribbled over
    // a higher-epoch manifest must not let a stale publisher's swap
    // land). A SOLE healthy publisher still self-heals a genuinely torn
    // pointer — history then holds only its own epoch, the filter below
    // passes, and the swap rewrites the pointer. An IO error propagates
    // to T7 fail-soft. Note the fallback sees the generation manifest
    // written just above, carrying OUR epoch — harmless, the fence is
    // strictly-greater.
    fenceOrThrow(key, wrote = true)
    store.writeString(store.currentManifestPath, json) // the publish
    manifest
  }

  /** The pointer as every fence reads it: the current manifest (None
    * when absent), or the parse-shaped failure when it is torn. An IO
    * error propagates to the cycle's T7 fail-soft.
    */
  def readPointer(): Either[MalformedManifest, Option[Manifest]] =
    try Right(store.readCurrentManifest())
    catch { case e: MalformedManifest => Left(e) }

  /** Cycle-entry fence (round 15, ADVICE): SyncManager calls this at
    * the TOP of runCycle, BEFORE the per-table delta scans, on the one
    * pointer read that also gives the cycle its previous generation and
    * its watermarks. The r14 pre-write fence made a retired instance's
    * wake-up cost zero bytes WRITTEN — but the cycle had already run
    * one forced delta-scan job per table against the SOURCE by the time
    * publish was called, so a fenced instance still charged the source
    * N full delta reads per tick. With this check first, a retired
    * wake-up costs exactly one pointer read. The two publish-time
    * checks stay: this one cannot see a successor that lands mid-cycle.
    */
  def assertCurrentPublisher(
      pointer: Either[MalformedManifest, Option[Manifest]]): Unit =
    fenceOrThrow(pointer)(winner =>
      s"refusing to run a sync cycle: this publisher's epoch" +
        s" $publisherEpoch is older than the store's current epoch" +
        s" $winner — a newer deployment owns this root; nothing was read" +
        s" from the source or written. Retire this instance.")

  private def fenceOrThrow(key: String, wrote: Boolean): Unit =
    fenceOrThrow(readPointer())(winner =>
      if (wrote)
        s"refusing to publish generation $key: this publisher's epoch" +
          s" $publisherEpoch is older than the store's current epoch" +
          s" $winner — a newer deployment owns this root; the written" +
          s" generation is left unreferenced (retention collects it)" +
          s" and the pointer is NOT regressed. Retire this instance."
      else
        s"refusing to build generation $key: this publisher's epoch" +
          s" $publisherEpoch is older than the store's current epoch" +
          s" $winner — a newer deployment owns this root; nothing was" +
          s" written and the pointer is untouched. Retire this instance.")

  /** The fence: the pointer's epoch, or — when the pointer is torn —
    * the max epoch recorded anywhere in the store (generation
    * manifests + claim markers cannot tear away with the pointer;
    * healing blindly would let a foreign torn write over a
    * higher-epoch manifest admit a stale swap). Strictly-greater wins.
    * Applied three times per cycle: at cycle entry (so a fenced
    * wake-up costs one pointer read, zero source scans), before any
    * table write (zero bytes written even when the successor landed
    * mid-cycle), and immediately before the swap (the non-CAS window).
    */
  private def fenceOrThrow(
      pointer: Either[MalformedManifest, Option[Manifest]])(
      msg: Long => String): Unit = {
    val currentEpoch = pointer.fold(
      _ => store.maxRecordedEpoch(), _.map(_.publisherEpoch))
    currentEpoch.filter(_ > publisherEpoch).foreach { winner =>
      throw new StalePublisherException(msg(winner))
    }
  }
}
