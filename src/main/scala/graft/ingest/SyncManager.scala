package graft.ingest

import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.model.Manifest
import graft.snapshot.{Retention, SnapshotStore, SnapshotWriter}

/** One sync cycle outcome (reference returns a bare bool,
  * etl-service/src/sync.py:168-170; we keep the manifest + error).
  */
final case class SyncResult(
    success: Boolean,
    manifest: Option[Manifest],
    changedCounts: Map[String, Long],
    prunedGenerations: Seq[String],
    error: Option[String] = None)

/** Source schema drift a MERGE cycle cannot apply safely. Raised
  * BEFORE the snapshot build touches storage, so the T7 fail-soft path
  * reports it and the watermark holds (next tick retries; the remedy —
  * a FullRebuild cycle — is in the message).
  */
final class SchemaDriftException(msg: String)
  extends RuntimeException(msg)

/** Extraction strategy for each sync cycle. */
sealed trait SyncMode
object SyncMode {
  /** Reference semantics (T4): re-read every table whole each cycle. */
  case object FullRebuild extends SyncMode
  /** The scalable path and the reference's declared-but-unimplemented
    * intent (sync.py:141-142 "full table loads for simplicity"; the
    * design doc's MERGE): read ONLY the delta from the source and
    * upsert it into the previous snapshot generation keyed on `id` —
    * source traffic is proportional to the change rate, not the table.
    */
  case object Merge extends SyncMode
}

/** The ETL cycle (reference run_sync_job / sync_all_tables,
  * etl-service/src/sync.py:130-170 + main.py:80-91):
  *
  *   extract → snapshot build → publish (manifest swap) → retention GC
  *
  * Two modes: the default SyncMode.FullRebuild keeps the reference
  * semantics (T4) while still probing and recording the incremental
  * watermark (T2/T3); SyncMode.Merge reads only the delta past that
  * watermark and upserts it into the previous generation. Any failure
  * logs and returns a failed result; the scheduler keeps ticking (T7).
  * One cycle at a time (`synchronized` ≈ APScheduler max_instances=1 +
  * coalesce, T1).
  *
  * The publish is the only sync record: each table's watermark rides
  * in the manifest that publishes the generation, as the metadata
  * entry `watermark.<table>` (see [[SyncManager.watermarksOf]]). The
  * reference keeps its watermarks in memory only (`self._state`,
  * etl-service/src/sync.py:25) and loses them on restart; here they
  * survive with the generation, advance exactly when the pointer swap
  * lands, and a fenced publisher cannot move them. The cycle reads the
  * pointer once, at entry: that read is the entry fence, the previous
  * generation and the watermarks.
  */
final class SyncManager(spark: SparkSession, source: Source,
                        store: SnapshotStore, keepCount: Int = 24,
                        mode: SyncMode = SyncMode.FullRebuild,
                        watermarkCol: String = "updated_at",
                        keyCol: String = "id",
                        publisherEpoch: Long = 0L) {

  private val writer = new SnapshotWriter(store, publisherEpoch)
  private val retention = new Retention(store, keepCount, publisherEpoch)

  def runCycle(now: Instant = Instant.now()): SyncResult = synchronized {
    try {
      // ONE pointer read at cycle entry supplies the fence, the
      // previous generation and the watermarks.
      val pointer = writer.readPointer()
      // cycle-entry fence (round 15): a retired instance's wake-up
      // must cost ONE pointer read. The r14 pre-write fence already
      // made it zero bytes written, but the per-table delta-scan stats
      // jobs below still charged the SOURCE N full delta reads per
      // stale tick. The publish-time checks remain for a successor
      // landing mid-cycle; this one just stops the known-stale case
      // before any source I/O.
      writer.assertCurrentPublisher(pointer)

      // A TORN publish pointer (a foreign non-rename writer
      // mid-overwrite) must not wedge the publisher forever: treat
      // garbage as absent — the watermarks it recorded are lost with
      // it, so the delta scan reads every row, Merge degrades to a
      // bootstrap full read for THIS cycle, and the publish at the end
      // rewrites the pointer, self-healing both. Only parse-shaped
      // failures qualify (Manifest.fromJson's strict validation raises
      // MalformedManifest for bad JSON AND for valid JSON missing the
      // required fields; anything else — an IO error, a genuine bug —
      // propagates to the T7 fail-soft catch and retries next tick).
      // Silently "healing" a transient store blip or a code bug with a
      // full source re-read would be an expensive accident at 100 TB,
      // so the heal is typed-narrow AND logged: the operator seeing a
      // surprisingly expensive cycle can find its cause.
      val prevManifest = pointer match {
        case Right(m) => m
        case Left(e) =>
          SyncManager.warn(s"torn publish pointer at " +
            s"${store.currentManifestPath} (${e.getMessage}); treating" +
            " as absent — this cycle re-reads every source table in full" +
            " and its publish rewrites the pointer")
          None
      }
      val state =
        prevManifest.map(SyncManager.watermarksOf).getOrElse(Map.empty)

      // change detection (S2+S3): ONE delta scan per table yields both
      // the changed count and the new watermark (max over the delta ==
      // max over the table whenever anything changed; empty delta means
      // the watermark must not move)
      val deltas = source.tableNames.map { t =>
        t -> source.readChangedSince(spark, t, state.get(t), watermarkCol)
      }.toMap
      val stats = deltas.map { case (t, delta) =>
        import org.apache.spark.sql.functions.{col, count, lit, max}
        // resolve case-insensitively, like readChangedSince does
        // (round 15): databases surface folded identifiers (Derby/SQL
        // Server uppercase "UPDATED_AT"), and an exact-match miss here
        // meant the watermark was never ESTABLISHED for those sources —
        // every cycle silently degraded to a full re-read while the
        // delta path stood ready to serve incremental reads
        Source.resolve(delta, watermarkCol) match {
          case Some(c) =>
            val row = delta.agg(count(lit(1)),
              max(col(c)).cast("string")).first()
            t -> ((row.getLong(0),
              if (row.isNullAt(1)) None else Some(row.getString(1))))
          case None => t -> ((delta.count(), Option.empty[String]))
        }
      }
      val changed = stats.map { case (t, (n, _)) => t -> n }

      val frames = source.tableNames.map { t =>
        val df = mode match {
          case SyncMode.FullRebuild => source.read(spark, t)
          case SyncMode.Merge =>
            prevManifest.filter(_.tables.contains(t)) match {
              case Some(m) =>
                val prev = spark.read.parquet(
                  store.tableDir(m.version, t).toString)
                val delta = deltas(t)
                // key presence follows the session's resolution rules
                // (case-insensitive unless spark.sql.caseSensitive)
                val cs = spark.conf
                  .get("spark.sql.caseSensitive", "false").toBoolean
                def hasKey(cols: Array[String]) =
                  if (cs) cols.contains(keyCol)
                  else cols.exists(_.equalsIgnoreCase(keyCol))
                (hasKey(prev.columns), hasKey(delta.columns)) match {
                  // a KEYED table whose source LOST the merge key: fail
                  // loudly like any other dropped column. The silent
                  // alternative — falling back to a full source read
                  // EVERY cycle forever — is the exact 100 TB expensive
                  // accident the drop guard exists to prevent, and it
                  // would also silently erase the key column from the
                  // published snapshot.
                  case (true, false) => throw new SchemaDriftException(
                    s"source table '$t' no longer has the MERGE key" +
                      s" column '$keyCol' that the previous snapshot" +
                      " generation carries; without it a MERGE cycle" +
                      " cannot match rows — if the drop is intentional," +
                      " run one SyncMode.FullRebuild cycle to adopt the" +
                      " keyless schema (subsequent Merge cycles then" +
                      " degrade to full reads, the reference's T4" +
                      " semantics for non-keyed tables)")
                  // an UNKEYED previous generation (never keyed, or the
                  // keyless schema adopted via FullRebuild): merge is
                  // impossible, full read = the reference's own cycle
                  // semantics. This includes a key newly ADDED by the
                  // source — the full read adopts it and the NEXT cycle
                  // merges on it.
                  case (false, _) => source.read(spark, t)
                  case (true, true) => SyncManager.mergeUpsert(
                    prev, delta, keyCol, table = t)
                }
              case None => source.read(spark, t) // bootstrap generation
            }
        }
        t -> df
      }.toMap

      // the watermarks ride in the manifest that publishes the
      // generation, so they advance exactly when the pointer swap lands:
      // a failed or fenced publish cannot skip (old, new] rows
      val advances = SyncManager.recordable(
        stats.collect { case (t, (_, Some(w))) => t -> w })
      val manifest = writer.publish(frames, now,
        sortCol = Some(watermarkCol),
        metadata = SyncManager.watermarkEntries(state ++ advances))

      val pruned = retention.prune()
      SyncResult(success = true, Some(manifest), changed, pruned)
    } catch {
      case e: Exception => // T7: log, fail soft, next tick retries
        SyncResult(success = false, None, Map.empty, Seq.empty,
          error = Some(e.toString))
    }
  }
}

object SyncManager {
  private def warn(what: String): Unit =
    System.err.println(s"[sync] WARNING: $what")

  private val WatermarkPrefix = "watermark."

  /** The per-table watermarks a published manifest records, from its
    * `watermark.<table>` metadata entries. Torn-state policy: a GARBAGE
    * watermark is strictly worse than a LOST one. Garbage either
    * wedges the publisher forever — the cycle fails at the delta scan
    * (ANSI cast) and only a successful cycle rewrites the pointer — or,
    * where the value casts to NULL, makes the strict-`>` delta
    * predicate eternally false and silently skips every future row of
    * that table. A lost watermark is merely expensive: the next delta
    * scan degrades to a full table read whose stats re-establish it,
    * and the publish records it again. So an entry no supported
    * watermark column type can produce drops THAT entry, loudly
    * logged, so an operator seeing a surprisingly expensive cycle can
    * find its cause.
    */
  def watermarksOf(m: Manifest): Map[String, String] =
    m.metadata.collect {
      case (k, v) if k.startsWith(WatermarkPrefix) =>
        k.stripPrefix(WatermarkPrefix) -> v
    }.filter { case (t, v) =>
      parseableWatermark(v) || {
        warn(s"manifest ${m.version} records a watermark for '$t' that" +
          s" no supported watermark column type can produce" +
          s" (${v.take(48)}) — treating it as absent; the next cycle" +
          " re-reads that table in full and its publish records it again")
        false
      }
    }

  private def watermarkEntries(
      watermarks: Map[String, String]): Map[String, String] =
    watermarks.map { case (t, v) => s"$WatermarkPrefix$t" -> v }

  /** Save-side mirror of [[parseableWatermark]] (round 15): an advance
    * the loader would drop must never be RECORDED in the first place —
    * otherwise it ships, gets dropped on the next cycle with a
    * "corruption" warning, and the table silently degrades to full
    * re-reads. The one real producer is a FLOAT/DOUBLE watermark
    * column containing NaN/Infinity (max() propagates NaN as the
    * greatest value under Spark's ordering; recorded, it would make the
    * strict-`>` delta predicate eternally FALSE and skip every future
    * row). Refusing loudly keeps the PREVIOUS watermark: rows past it
    * are re-read each cycle — correct and expensive, with this warning
    * naming the cause every time — until the source value becomes
    * finite again.
    */
  private def recordable(advances: Map[String, String]): Map[String, String] =
    advances.filter { case (t, v) =>
      parseableWatermark(v) || {
        warn(s"advance for '$t' is not a round-trippable watermark" +
          s" (${v.take(48)} — e.g. NaN/Infinity from a float column); NOT" +
          " recorded — the previous watermark holds")
        false
      }
    }

  /** True iff the stored text is a shape the cycle can actually have
    * recorded — i.e. `max(watermarkCol).cast("string")` over a SUPPORTED
    * watermark column type. `readChangedSince` casts the literal back to
    * the COLUMN's type, so the accepted set must cover every column type
    * the delta contract supports, not just TIMESTAMP (round 14 — the
    * timestamp-only check silently dropped legitimately-saved DATE and
    * numeric/rowversion watermarks on every load, permanently degrading
    * those tables to full re-reads each cycle while warning about
    * corruption that never happened):
    *  - TIMESTAMP / TIMESTAMP_NTZ: Spark's space-separated cast with
    *    optional fraction, plus ISO-8601 `T`/offset forms for tolerance;
    *  - DATE: `yyyy-MM-dd` (Spark's date→string cast);
    *  - numeric (int/long/decimal version counters, rowversion): an
    *    optionally-signed decimal literal. Bounded length so a garbage
    *    blob of digits still heals rather than round-tripping.
    *  - FLOAT/DOUBLE (round 15): Spark's double→string cast emits Java
    *    `Double.toString` shapes — scientific notation ("1.2345678E7",
    *    "1.0E-4") past the plain-decimal range — which the bare
    *    NumericLiteral missed, so a legitimately-saved double watermark
    *    was dropped on every load: the exact eternal-full-re-read
    *    degradation the r14 DATE/numeric fix closed. The optional
    *    bounded exponent suffix covers every FINITE double; the
    *    NON-finite casts ("NaN", "Infinity") are refused at record time
    *    instead (see [[recordable]]) — a NaN watermark would make the
    *    strict-`>` delta predicate eternally false and silently skip
    *    every future row, so it must never be recorded at all.
    * Anything else cannot have come from a cycle and is dropped as
    * garbage (see [[watermarksOf]]).
    */
  private[ingest] def parseableWatermark(s: String): Boolean =
    scala.util.Try(java.sql.Timestamp.valueOf(s)).isSuccess ||
      scala.util.Try(java.time.Instant.parse(s)).isSuccess ||
      scala.util.Try(java.time.LocalDateTime.parse(s)).isSuccess ||
      scala.util.Try(java.sql.Date.valueOf(s)).isSuccess ||
      NumericLiteral.matches(s)

  /** Optionally-signed decimal literal with an optional bounded
    * exponent — the string cast of any numeric watermark column.
    * 38 digits covers DECIMAL(38)'s full range; the `[eE]±ddd` suffix
    * covers Java `Double.toString`'s scientific notation for every
    * finite FLOAT/DOUBLE (exponents max out at 3 digits: |e| ≤ 324).
    */
  private val NumericLiteral =
    "^-?[0-9]{1,38}(\\.[0-9]{1,38})?([eE][+-]?[0-9]{1,3})?$".r

  /** Claim a publisher epoch strictly greater than anything the store
    * has seen. Call ONCE at deployment boot and construct the
    * SyncManager with the result; the fence then guarantees that when
    * the new instance publishes, the old one's next swap/prune refuses
    * (see [[graft.snapshot.SnapshotWriter]]).
    *
    * The floor is the max over THREE epoch records, not just the
    * pointer:
    *  - the current manifest (the common case);
    *  - every parseable `history/<key>/manifest.json` — so a TORN
    *    pointer does NOT read as pre-epoch. Generation manifests are
    *    written atomically before every swap, so a live higher-epoch
    *    publisher is still visible through them; reading a torn
    *    pointer as epoch 0 would hand the replacement a LOWER epoch
    *    than the stale instance it must outrank — the stale publisher's
    *    next swap would then permanently fence the replacement out,
    *    the exact inversion of what the fence is for;
    *  - existing claim markers under `epochs/` (a prior boot may have
    *    claimed but not yet published).
    *
    * The claim itself is a create-exclusive marker `epochs/<n>`:
    * `FileSystem.create(path, overwrite = false)` is namenode-atomic on
    * HDFS and O_EXCL-atomic on the local FS (via
    * `java.io.File.createNewFile` — Hadoop's RawLocalFileSystem create
    * is exists-check-then-open, not exclusive), so two concurrently
    * booting publishers race for the marker and the loser retries at
    * n+1 — distinct epochs, no shared-epoch indistinguishability. On
    * object stores WITHOUT an atomic create-exclusive (plain S3 puts)
    * the marker degrades to advisory: serialize DEPLOYS there (which
    * every rolling deployer does), not cycles. Markers are a few bytes
    * per deployment boot; retention collects the ones strictly below
    * the served epoch (they can never be claimed again), so a crash-
    * looping deployer's backlog is swept the moment a boot succeeds.
    */
  def claimEpoch(store: graft.snapshot.SnapshotStore): Long = {
    val epochsDir =
      new org.apache.hadoop.fs.Path(store.rootPath, "epochs")
    val claimed: Seq[Long] =
      if (!store.fs.exists(epochsDir)) Seq.empty
      else store.fs.listStatus(epochsDir).toSeq
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
    val floor = (store.maxRecordedEpoch().toSeq ++ claimed)
      .foldLeft(0L)(_ max _)
    store.fs.mkdirs(epochsDir)
    var n = floor + 1
    while (n <= floor + 1000) {
      if (tryCreateExclusive(store.fs,
          new org.apache.hadoop.fs.Path(epochsDir, n.toString))) return n
      n += 1
    }
    throw new IllegalStateException(
      s"claimEpoch lost ${n - floor - 1} consecutive marker races under" +
        s" $epochsDir — a runaway boot loop is claiming epochs")
  }

  /** True iff this call created the file (it did not exist). Atomic on
    * HDFS (namenode create) and local (O_CREAT|O_EXCL via NIO);
    * check-then-create (advisory) on stores with neither primitive.
    */
  private[ingest] def tryCreateExclusive(fs: org.apache.hadoop.fs.FileSystem,
                                 path: org.apache.hadoop.fs.Path): Boolean =
    fs match {
      // both local flavors: LocalFileSystem (the default checksummed
      // wrapper) AND RawLocalFileSystem (fs.file.impl configured raw) —
      // the generic arm below would silently lose O_EXCL atomicity for
      // the raw flavor, whose create is exists-check-then-open
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        new java.io.File(path.toUri.getPath).createNewFile()
      case other =>
        try { other.create(path, false).close(); true }
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          false }
    }

  /** MERGE INTO as composed plans: previous-generation rows not
    * touched by the delta (left anti on the key) plus the delta
    * (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT).
    *
    * Schema drift (the delta carries the source's CURRENT schema, so a
    * schema change surfaces here first):
    *  - a column the source ADDED is adopted — the reference's
    *    CTAS-per-cycle (etl-service/src/sync.py:84-87) makes a new
    *    column appear in the next snapshot, and MERGE matches that
    *    observable; rows the delta didn't touch get NULL, the honest
    *    value for data the incremental scan never re-read;
    *  - a column the source DROPPED or RETYPED fails the cycle with a
    *    [[SchemaDriftException]] naming the table, columns, and remedy
    *    (one FullRebuild cycle). Applying either automatically would
    *    destroy or corrupt values the previous generation still holds
    *    for rows the delta never re-read — an explicit rebuild is the
    *    only loss-free path.
    *
    * Scale shape: at 100 TB `prev` is the full snapshot and `delta`
    * the change rate — normally orders of magnitude smaller. The join
    * is left UNHINTED on purpose so AQE broadcasts the delta's key
    * projection when it is small (pinned by SnapshotSyncSpec's plan
    * assert) but can still fall back to a shuffled join for a
    * backfill-scale delta, where a forced broadcast would OOM the
    * executors.
    */
  private[graft] def mergeUpsert(prev: org.apache.spark.sql.DataFrame,
                                 delta: org.apache.spark.sql.DataFrame,
                                 keyCol: String,
                                 table: String = "<table>"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    // name matching follows the session's resolution rules: Spark's
    // analyzer (and unionByName below) resolves case-insensitively
    // unless spark.sql.caseSensitive=true, so a source that merely
    // re-cased a column ("Price" -> "price") is the SAME column, not
    // drift — flagging it as dropped+retyped would force a needless
    // FullRebuild of a 100 TB table over a cosmetic rename
    val caseSensitive = prev.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    def canon(name: String): String =
      if (caseSensitive) name else name.toLowerCase(java.util.Locale.ROOT)
    val deltaTypes =
      delta.schema.fields.map(f => canon(f.name) -> f.dataType).toMap
    val dropped = prev.columns.filterNot(c => deltaTypes.contains(canon(c)))
    if (dropped.nonEmpty) throw new SchemaDriftException(
      s"source table '$table' no longer has column(s) " +
        dropped.mkString("[", ", ", "]") +
        " that the previous snapshot generation carries; a MERGE cycle" +
        " cannot drop them without erasing values for rows the delta" +
        " never re-read — run one SyncMode.FullRebuild cycle to adopt" +
        " the new source schema")
    // catalogString comparison: nested nullability (containsNull etc.)
    // can flip across a parquet round-trip and is union-compatible
    // anyway — only a genuine type change is drift
    val retyped = prev.schema.fields
      .filter(f =>
        deltaTypes(canon(f.name)).catalogString != f.dataType.catalogString)
      .map(f =>
        s"${f.name}: ${f.dataType.sql} -> ${deltaTypes(canon(f.name)).sql}")
    if (retyped.nonEmpty) throw new SchemaDriftException(
      s"source table '$table' changed column type(s) " +
        retyped.mkString("[", ", ", "]") +
        " since the previous snapshot generation; a MERGE cycle cannot" +
        " cast rows it never re-read — run one SyncMode.FullRebuild" +
        " cycle to adopt the new source schema")
    // added columns: unionByName(allowMissingColumns) fills the prev
    // side with NULL; the dropped-column guard above has already fired,
    // so the fill can only ever apply to prev, never mask a drop
    prev.join(delta.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(delta, allowMissingColumns = true)
  }
}
